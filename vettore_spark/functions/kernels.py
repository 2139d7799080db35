"""Distance / similarity / normalization kernels as Spark SQL text.

Re-expresses every scalar kernel of the reference engine (its
``native/vettore/src/distances.rs``) as a JVM-side Spark SQL
higher-order-function expression — no Python UDFs in the hot path, so
the whole pipeline stays inside Catalyst/whole-stage-codegen.

SQL text is the one representation. Each kernel builds its text; calling
it gives the Column form, ``F.expr(text)`` — ONE JVM parse call, where a
tree of Column calls costs a py4j round trip per node (~100-540 per
kernel). ``kernel.sql(...)`` gives the text itself, so a serving request
can splice every kernel into one ``spark.sql`` statement. Arguments are
SQL text (a column name is SQL text); a Column argument is spelled through
the session's expression printer, which omits casts to complex types —
pass such a cast as text.

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
Lambda variables are `_`-prefixed so they never shadow a column an
argument names.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# f32::MAX — validation bound for vector elements (collection.ex:61)
F32_MAX = 3.4028234663852886e38

METRICS = (
    "l2", "l2_squared", "cosine", "inner_product", "negative_inner_product",
    "manhattan", "chebyshev", "hamming", "jaccard",
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
_NULL = "CAST(NULL AS DOUBLE)"
_NON_FINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def canonical_metric(name: str) -> str:
    """Resolve a metric name or alias to its canonical form; raise on unknown."""
    m = METRIC_ALIASES.get(name, name)
    if m not in METRICS:
        raise ValueError(f"unknown metric: {name!r}")
    return m


def _sql(c: Column | str) -> str:
    """SQL text of a kernel argument."""
    if isinstance(c, str):
        return c
    return SparkSession.active()._jsparkSession.expression(c._jc).sql()


def _kernel(build):
    """Column form (`F.expr`, one JVM call) of a text builder, kept as `.sql`."""

    @functools.wraps(build)
    def column(*args, **kwargs):
        out = build(*args, **kwargs)
        if isinstance(out, tuple):
            return tuple(F.expr(t) for t in out)
        return F.expr(out)

    column.sql = build
    return column


def _dbl(c: Column | str) -> str:
    """Promote array<float> to array<double> so every op runs in f64."""
    return f"CAST({_sql(c)} AS ARRAY<DOUBLE>)"


def _double(v: float) -> str:
    """One double literal: Python's shortest `repr` round-trips every
    finite double (subnormals and -0.0 included) through the JVM parser;
    NaN/±inf have no literal spelling and parse from a string."""
    r = repr(v)
    if r in _NON_FINITE:
        return f"CAST('{_NON_FINITE[r]}' AS DOUBLE)"
    return r + "D"


def array_lit_sql(values) -> str:
    """array<double> literal text of `values` (see `double_array_lit`)."""
    vals = [float(x) for x in values]
    if not vals:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ", ".join(_double(v) for v in vals) + ")"


def double_array_lit(values) -> Column:
    """array<double> literal of `values`, built with ONE JVM parse call.

    `F.array(*[F.lit(x) ...])` costs ~4 py4j round trips per element; the
    text `array(0.1D, ...)` one. A vector holding NaN/±inf falls back to
    per-element `F.lit`, which types the array's elements non-null."""
    vals = [float(x) for x in values]
    if not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr(array_lit_sql(vals))


# ---------------------------------------------------------------------------
# element-wise reductions (single pass, stay in the JVM)
# ---------------------------------------------------------------------------


def _sum(arr: str, zero: str = "0.0D") -> str:
    return f"aggregate({arr}, {zero}, (_s, _x) -> _s + _x)"


def _pairwise(a, b, body: str) -> str:
    return f"zip_with({_dbl(a)}, {_dbl(b)}, (_x, _y) -> {body})"


@_kernel
def dot(a: Column | str, b: Column | str) -> str:
    """Inner product (distances.rs:236-270)."""
    return _sum(_pairwise(a, b, "_x * _y"))


@_kernel
def norm_l2(a: Column | str) -> str:
    """Euclidean norm of one vector."""
    return f"sqrt(aggregate({_dbl(a)}, 0.0D, (_s, _x) -> _s + _x * _x))"


@_kernel
def l2_squared(a: Column | str, b: Column | str) -> str:
    """Squared L2 (distances.rs:150-152)."""
    return _sum(_pairwise(a, b, "(_x - _y) * (_x - _y)"))


@_kernel
def l2(a: Column | str, b: Column | str) -> str:
    """L2 distance (distances.rs:140-147)."""
    return f"sqrt({l2_squared.sql(a, b)})"


@_kernel
def cosine(a: Column | str, b: Column | str) -> str:
    """True cosine similarity: f64 dot/(|a||b|), zero vector -> 0.0,
    clamped to [-1, 1] (distances.rs:160-177). A non-finite input yields
    NULL: least/greatest order NaN ABOVE every double, so the plain clamp
    would score a malformed vector a PERFECT 1.0 (NANPOLICY.md).

    Single pass: one aggregate accumulating (dot, |a|^2, |b|^2), with the
    ratio/clamp in its FINISH lambda, where the struct is a bound
    variable — referenced from outside, the CodegenFallback fold would
    be re-inlined per reference (~4x) after CollapseProject."""
    pair = "named_struct('x', _x, 'y', _y)"
    denom = "(sqrt(_s.na) * sqrt(_s.nb))"
    r = f"(_s.d / {denom})"
    return (
        f"aggregate({_pairwise(a, b, pair)}, "
        "named_struct('d', 0.0D, 'na', 0.0D, 'nb', 0.0D), "
        "(_s, _p) -> named_struct('d', _s.d + _p.x * _p.y, "
        "'na', _s.na + _p.x * _p.x, 'nb', _s.nb + _p.y * _p.y), "
        f"_s -> CASE WHEN {denom} = 0.0D THEN 0.0D WHEN isnan({r}) THEN {_NULL} "
        f"ELSE least(1.0D, greatest(-1.0D, {r})) END)"
    )


@_kernel
def manhattan(a: Column | str, b: Column | str) -> str:
    """Sum of absolute differences (distances.rs:273-308)."""
    return _sum(_pairwise(a, b, "abs(_x - _y)"))


@_kernel
def chebyshev(a: Column | str, b: Column | str) -> str:
    """Max absolute difference (distances.rs:311-316)."""
    return f"coalesce(array_max({_pairwise(a, b, 'abs(_x - _y)')}), 0.0D)"


@_kernel
def hamming(a: Column | str, b: Column | str) -> str:
    """Count of coordinates whose truthiness differs (distances.rs:318-324)."""
    return _sum(_pairwise(
        a, b, "CASE WHEN (_x != 0.0D) != (_y != 0.0D) THEN 1.0D ELSE 0.0D END"
    ))


@_kernel
def jaccard(a: Column | str, b: Column | str) -> str:
    """1 - |both truthy| / |either truthy|; empty union -> 0.0
    (distances.rs:327-347)."""
    pairs = _pairwise(
        a, b,
        "named_struct('i', CASE WHEN (_x != 0.0D) AND (_y != 0.0D) THEN 1.0D ELSE 0.0D END, "
        "'u', CASE WHEN (_x != 0.0D) OR (_y != 0.0D) THEN 1.0D ELSE 0.0D END)",
    )
    acc = (
        f"aggregate({pairs}, named_struct('i', 0.0D, 'u', 0.0D), "
        "(_s, _p) -> named_struct('i', _s.i + _p.i, 'u', _s.u + _p.u))"
    )
    return f"CASE WHEN {acc}.u = 0.0D THEN 0.0D ELSE 1.0D - {acc}.i / {acc}.u END"


@_kernel
def raw_metric(
    metric: str, a: Column | str, b: Column | str, *, pre_normalized: bool = True
) -> str:
    """Raw metric value per the reference dispatch (distances.rs:40-60).

    ``cosine`` on the collection path is a plain dot product — the collection
    pre-normalizes vectors to unit length so dot == cosine (distances.rs:47-51);
    pass ``pre_normalized=False`` for the true-cosine kernel used by standalone
    distance calls and prefix top-k (search.rs:56-58).
    """
    m = canonical_metric(metric)
    if m == "cosine" and not pre_normalized:
        return cosine.sql(a, b)
    if m in ("cosine", "inner_product"):
        return dot.sql(a, b)
    if m == "negative_inner_product":
        return f"(-{dot.sql(a, b)})"
    return {
        "l2": l2, "l2_squared": l2_squared, "manhattan": manhattan,
        "chebyshev": chebyshev, "hamming": hamming, "jaccard": jaccard,
    }[m].sql(a, b)


# ---------------------------------------------------------------------------
# raw -> rank / similarity / (score, distance)
# ---------------------------------------------------------------------------


@_kernel
def _finite_or_null(raw: Column | str) -> str:
    """NaN/±inf -> NULL rail shared by the K12-K14 value mappers
    (NANPOLICY.md): Spark orders NaN ABOVE every double, so a NaN raw
    metric would WIN a desc sort and PASS a `>= threshold` cut, and a
    +inf dot product would rank FIRST. NULL loses under every NULLS-LAST
    rank key, sorts last under desc and fails every threshold. Callers
    MUST pass a MATERIALIZED raw value (a staged `_raw` column, or a
    raw-staging `transform`'s bound element, as MaxSim does) so the
    extra references are scalar reads, not re-inlined kernel folds."""
    r = _sql(raw)
    return (
        f"CASE WHEN isnan({r}) OR abs({r}) = {_double(math.inf)} "
        f"THEN {_NULL} ELSE {r} END"
    )


@_kernel
def rank_value(metric: str, raw: Column | str) -> str:
    """Ascending rank order key (distances.rs:113-119). Non-finite raw
    -> NULL rank (loses under NULLS-LAST ordering)."""
    m = canonical_metric(metric)
    r = _finite_or_null.sql(raw)
    if m == "cosine":
        return f"(1.0D - {r})"
    if m == "inner_product":
        return f"(-{r})"
    return r


@_kernel
def similarity_value(metric: str, raw: Column | str) -> str:
    """Higher-is-better similarity (distances.rs:122-128). Non-finite
    raw -> NULL similarity (fails every >= min_score cut)."""
    m = canonical_metric(metric)
    r = _finite_or_null.sql(raw)
    if m in ("cosine", "inner_product"):
        return r
    if m == "negative_inner_product":
        return f"(-{r})"
    return f"(1.0D / (1.0D + {r}))"


@_kernel
def result_values(metric: str, raw: Column | str, score_mode: str = "raw") -> tuple[str, str]:
    """(score, distance) per metric x score-mode
    (lib/vettore_distance.ex:525-547). Non-finite raw -> NULL score AND
    distance (the row is reportable but never ranked or thresholded in);
    MaxSim results carry NULL distance at the operator layer."""
    m = canonical_metric(metric)
    if score_mode not in ("raw", "similarity"):
        raise ValueError(f"unknown score mode: {score_mode!r}")
    r = _finite_or_null.sql(raw)
    neg, plain = f"(-{r})", f"({r} + 0.0D)"
    if m == "negative_inner_product":
        return neg, plain
    if m in SIMILARITY_METRICS:
        dist = f"(1.0D - {r})" if m == "cosine" else neg
        if score_mode == "raw":
            return plain, dist
        return (f"(({r} + 1.0D) / 2.0D)" if m == "cosine" else plain), dist
    # distance metrics
    if score_mode == "raw":
        return neg, plain
    return f"(1.0D / (1.0D + {r}))", plain


# ---------------------------------------------------------------------------
# normalization (distances.rs:350-410)
# ---------------------------------------------------------------------------

NORMALIZE_MODES = ("none", "l2", "zscore", "minmax")


def default_normalize(metric: str) -> str:
    """cosine defaults to :l2, all other metrics to :none
    (collection.ex:86-88, 1317-1319)."""
    return "l2" if canonical_metric(metric) == "cosine" else "none"


def _broadcast_scalar(vv: str, s: str, var: str, body: str) -> str:
    """Apply `body` (over `_x` and the scalar `var`) element-wise with the
    per-row scalar s computed ONCE.

    A naive `transform(v, x -> f(x, s))` re-embeds the s expression tree in
    the lambda, so an aggregate-derived s is recomputed PER ELEMENT — O(d^2)
    per row. `array_repeat` evaluates its child once, so zip_with against the
    repeated scalar keeps it O(d)."""
    return f"zip_with({vv}, array_repeat({s}, size({vv})), (_x, {var}) -> {body})"


@_kernel
def normalize_l2(v: Column | str) -> str:
    """Unit norm via f64; zero vector stays zero (distances.rs:350-361)."""
    vv = _dbl(v)
    return _broadcast_scalar(
        vv, norm_l2.sql(vv), "_n", "CASE WHEN _n = 0.0D THEN _x ELSE _x / _n END"
    )


@_kernel
def normalize_zscore(v: Column | str) -> str:
    """(x - mu) / sigma, population stddev; constant vector -> zeros
    (distances.rs:364-389).

    Single-pass (sum, sumsq) accumulator -> sigma^2 = E[x^2] - mu^2; the
    reference's two-pass formula differs only at ~1e-13 relative, absorbed by
    result rounding."""
    vv = _dbl(v)
    acc = (
        f"aggregate({vv}, named_struct('s', 0.0D, 'q', 0.0D), "
        "(_a, _x) -> named_struct('s', _a.s + _x, 'q', _a.q + _x * _x))"
    )
    n = f"CAST(size({vv}) AS DOUBLE)"
    mu = f"({acc}.s / {n})"
    sigma = f"sqrt(greatest({acc}.q / {n} - {mu} * {mu}, 0.0D))"
    return _broadcast_scalar(
        vv, f"named_struct('mu', {mu}, 'sg', {sigma})", "_st",
        "CASE WHEN _st.sg = 0.0D THEN 0.0D ELSE (_x - _st.mu) / _st.sg END",
    )


@_kernel
def normalize_minmax(v: Column | str) -> str:
    """(x - min) / (max - min) -> [0,1]; constant vector -> zeros
    (distances.rs:392-410)."""
    vv = _dbl(v)
    return _broadcast_scalar(
        vv, f"named_struct('lo', array_min({vv}), 'hi', array_max({vv}))", "_st",
        "CASE WHEN _st.hi = _st.lo THEN 0.0D "
        "ELSE (_x - _st.lo) / (_st.hi - _st.lo) END",
    )


@_kernel
def normalize(mode: str, v: Column | str) -> str:
    if mode == "none":
        return _dbl(v)
    if mode in ("l2", "zscore", "minmax"):
        return {"l2": normalize_l2, "zscore": normalize_zscore,
                "minmax": normalize_minmax}[mode].sql(v)
    raise ValueError(f"unknown normalize mode: {mode!r}")


# ---------------------------------------------------------------------------
# binary quantization (sign-bit packing + packed distances)
# ---------------------------------------------------------------------------


def _word(v: str, word_idx: int, nbits: int) -> str:
    """One packed 64-bit word (little-endian bit order, distances.rs:413-423).

    ANSI-safe: assembled as lo(32 bits) + hi(31 bits)*2^32 + sign-bit
    correction, which never overflows signed 64-bit arithmetic but produces
    the exact two's-complement bit pattern of the reference's u64 word.
    """
    base = word_idx * 64

    def bit(i: str) -> str:
        # compare the raw element (no array-wide cast: a cast embedded here
        # would re-run O(d) work per bit extraction)
        return (
            f"CASE WHEN element_at({v}, CAST({i} + {base} + 1 AS INT)) >= 0.0D "
            "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )

    def pack(lo_bit: int, hi_bit: int) -> str:
        # sum of bit(i) * 2^(i-lo_bit), accumulated msb-first: acc*2 + bit
        return (
            f"aggregate(sequence({hi_bit}, {lo_bit}, -1), CAST(0 AS BIGINT), "
            f"(_acc, _i) -> _acc * 2 + {bit('_i')})"
        )

    lo = pack(0, min(31, nbits - 1))
    if nbits <= 32:
        return lo
    word = f"({lo} + {pack(32, min(62, nbits - 1))} * CAST(4294967296 AS BIGINT))"
    if nbits == 64:
        word = (
            f"({word} + CASE WHEN {bit('63')} = 1 THEN {_LONG_MIN}L "
            "ELSE CAST(0 AS BIGINT) END)"
        )
    return word


@_kernel
def compress_sign_bits(v: Column | str, dims: int) -> str:
    """Pack x >= 0 sign bits little-endian into ceil(dims/64) long words
    (distances.rs:413-423). Padding bits are zero by construction."""
    if dims <= 0:
        raise ValueError("dimensions must be positive")
    vv = _sql(v)  # no array<double> cast: sign test works on any numeric
    nwords = (dims + 63) // 64
    return "array(" + ", ".join(
        _word(vv, w, min(64, dims - w * 64)) for w in range(nwords)
    ) + ")"


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


def _masked(arr: str, dims: int) -> str:
    """Mask padding bits of the final word (distances.rs:471-481)."""
    rem = dims % 64
    if rem == 0:
        return arr
    last = (dims + 63) // 64 - 1
    return f"transform({arr}, (_x, _i) -> CASE WHEN _i = {last} THEN _x & {(1 << rem) - 1} ELSE _x END)"


def _packed(a, b, dims: int, body: str) -> str:
    return f"zip_with({_masked(_sql(a), dims)}, {_masked(_sql(b), dims)}, (_x, _y) -> {body})"


@_kernel
def packed_hamming(a: Column | str, b: Column | str, dims: int) -> str:
    """XOR + popcount over packed words, padding masked (distances.rs:426-437)."""
    pop = _packed(a, b, dims, "CAST(bit_count(_x ^ _y) AS BIGINT)")
    return f"CAST({_sum(pop, 'CAST(0 AS BIGINT)')} AS DOUBLE)"


@_kernel
def packed_jaccard(a: Column | str, b: Column | str, dims: int) -> str:
    """popcount(AND)/popcount(OR) over packed words; empty union -> 0.0
    (distances.rs:440-457)."""
    pairs = _packed(
        a, b, dims,
        "named_struct('i', CAST(bit_count(_x & _y) AS BIGINT), "
        "'u', CAST(bit_count(_x | _y) AS BIGINT))",
    )
    acc = (
        f"aggregate({pairs}, named_struct('i', CAST(0 AS BIGINT), 'u', CAST(0 AS BIGINT)), "
        "(_s, _p) -> named_struct('i', _s.i + _p.i, 'u', _s.u + _p.u))"
    )
    return (
        f"CASE WHEN {acc}.u = 0 THEN 0.0D "
        f"ELSE 1.0D - CAST({acc}.i AS DOUBLE) / CAST({acc}.u AS DOUBLE) END"
    )


# ---------------------------------------------------------------------------
# validation predicates (collection.ex:1085-1095)
# ---------------------------------------------------------------------------


@_kernel
def is_valid_vector(v: Column | str, dims: int) -> str:
    """True when v is non-null, has exactly `dims` finite elements within
    +/- f32::MAX (collection.ex:1085-1095, 1264-1270). Builtin
    array_min/array_max instead of a per-element fold (~2x faster at
    ingest): NaN is greatest in Spark's ordering, so array_max <= f32max
    rejects NaN and +inf, array_min >= -f32max rejects -inf, and exists()
    rejects NULL elements (which min/max would skip)."""
    vv = _dbl(v)
    return (
        f"(((({vv} IS NOT NULL AND size({vv}) = {dims}) "
        f"AND (NOT exists({vv}, _x -> _x IS NULL))) "
        f"AND array_max({vv}) <= {_double(F32_MAX)}) "
        f"AND array_min({vv}) >= {_double(-F32_MAX)})"
    )


@_kernel
def mean_vector(vectors: Column | str, dims: int) -> str:
    """Element-wise arithmetic mean of a multi-vector set -> representative
    vector (collection.ex:1008-1017). Returns array<double>."""
    vs = f"CAST({_sql(vectors)} AS ARRAY<ARRAY<DOUBLE>>)"
    total = (
        f"aggregate({vs}, array_repeat(0.0D, {dims}), "
        "(_acc, _v) -> zip_with(_acc, _v, (_s, _x) -> _s + _x))"
    )
    return f"transform({total}, _s -> _s / CAST(size({vs}) AS DOUBLE))"
