"""Stateful Structured Streaming gates for continuous training-data
pipelines. The reference has no streaming surface (SURVEY §2.12); these
are the Spark-native extension: nine custom Python folds behind one
runner (top-k, two exact dedups, SimHash candidates, z-score, funnel,
KMV, histogram, moments) plus two gates on the engine's
own state (`streaming_session_counts`, `streaming_horizon_dedup`). All
run identically under `trigger(availableNow=True)` for batch-like
verification and under continuous micro-batches in production.

**One state path.** Every custom gate is a pure fold run by `_fold_state`:

    fold(state, rows) -> (new_state, out)

`state` is the group's stored tuple (the gate's `state_schema` fields in
order), or None before the group's first write. `rows` is the group's
micro-batch, already concatenated; the runner skips empty batches and
never calls a fold without rows. A None `new_state` leaves the stored
state unwritten, a None `out` emits nothing. No gate touches the state
handle itself.

**Shard keys.** A gate whose natural key takes many values per batch
(users, leaderboard keys, content digests, SimHash buckets) groups by one
of `_SHARDS` shards of it, not by the key: one Python call plus one state
round-trip per group per batch was most of each `addBatch` (r14 replay
profile: ~5,000 digest groups cost 1.8 s, ~40k unit digests ~3 s). The
shard is `pmod(xxhash64(key), _SHARDS)` (topk_per_key, funnel_stage,
simhash) or the digest's leading hex chars (both dedups; md5 prefixes
are uniform). A shard's state holds its keys as parallel arrays and the
fold applies the per-key rule in one vectorized pass, so the emitted rows
are the per-key form's and state volume is unchanged, only sharded
coarser. Shard keys derive from data, never from executors: output is
partition- and core-count-invariant. Gates with few groups (zscore, kmv,
histogram, moments) group by their group column.

**Checkpoint compatibility.** A checkpoint stores state rows under the
gate's grouping key and `state_schema` and replays them into its fold
under its output mode. Each gate's key expression, `state_schema`,
`out_schema` and mode are therefore its checkpoint format: keep them
byte-identical, or a restarted query fails schema validation or misreads
its state (tests/test_stateful.py restarts every gate on one checkpoint).

**Why moment_stats stays in Python.** Its state is order-free integer
sums, so an engine-state form (a native streaming aggregation) emits
bit-identical rows; measured, it is slower per micro-batch. Medians of 4
alternating replays per side, local[4], engine defaults: 2 files x 400
rows at dim 16, 675 ms native vs 638 ms Python; 4 files x 2,000 rows at
dim 64, 926 ms vs 485 ms.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SHARDS = 256


def _hash_shard(*cols: str) -> Column:
    """The shard of a key: pmod(xxhash64(cols), _SHARDS)."""
    return F.pmod(F.xxhash64(*cols), F.lit(_SHARDS))


def _fold_state(
    df: DataFrame,
    key: str,
    fold: Callable,
    *,
    out_schema,
    state_schema,
    mode: str,
) -> DataFrame:
    """Run `fold` over each group of `df` by column `key` with
    applyInPandasWithState (NoTimeout), under the contract in the module
    docstring."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        _key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        new, out = fold(
            state.get if state.exists else None,
            pd.concat(frames, ignore_index=True),
        )
        if new is not None:
            state.update(new)
        if out is not None:
            yield out

    return df.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_topk_per_key(
    events: DataFrame,
    *,
    k: int = 3,
    key_col: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running top-k by value over an unbounded stream.

    Emits, per micro-batch and key, the current top-k (id, value) pairs in
    descending value order (ties by id ascending — the same deterministic
    tie-break as the batch top-k operators). State: the top-k pairs only
    (a hot key still holds k entries), sharded by key hash.

    NaN stance (NANPOLICY.md): non-finite values (NaN/±inf/NULL) are
    DROPPED on arrival, never stored — a NaN key in the Python sort is
    ill-defined (comparisons all false: arrival position decides), a +inf
    value would hold rank 1 forever, and the batch window-oracle twin
    (value DESC under Spark/DuckDB's NaN-largest total ordering) would
    crown the malformed row. A leaderboard slot is a keeper slot;
    malformed rows lose.
    """
    out_schema = (
        f"{key_col} long, rank integer, {id_col} long, {value_col} double"
    )
    state_schema = "keys array<long>, ids array<long>, vals array<double>"

    def fold(state, rows):
        # a key is "touched" (and re-emits) when the batch carries ANY of
        # its rows, before the finiteness drop; a touched key with no
        # finite rows and no state emits nothing
        touched = set(rows[key_col].tolist())
        vv = rows[value_col].to_numpy(dtype=np.float64, na_value=np.nan)
        ok = np.isfinite(vv)
        frames = [
            pd.DataFrame(
                {
                    key_col: rows[key_col].to_numpy()[ok],
                    id_col: rows[id_col].to_numpy()[ok],
                    value_col: vv[ok],
                }
            )
        ]
        if state is not None:
            ks, ids, vals = state
            frames.insert(
                0,
                pd.DataFrame(
                    {
                        key_col: np.asarray(ks, dtype=np.int64),
                        id_col: np.asarray(ids, dtype=np.int64),
                        value_col: np.asarray(vals, dtype=np.float64),
                    }
                ),
            )
        # per key: descending value, ascending id, bounded to k
        top = (
            pd.concat(frames, ignore_index=True)
            .sort_values([key_col, value_col, id_col], ascending=[True, False, True])
            .groupby(key_col, sort=False)
            .head(k)
        )
        emit = top[top[key_col].isin(touched)].copy()
        emit["rank"] = emit.groupby(key_col, sort=False).cumcount() + 1
        new = (top[key_col].tolist(), top[id_col].tolist(), top[value_col].tolist())
        return new, emit[[key_col, "rank", id_col, value_col]]

    return _fold_state(
        events.withColumn("_bkt", _hash_shard(key_col)),
        "_bkt",
        fold,
        out_schema=out_schema,
        state_schema=state_schema,
        mode="update",
    )


def streaming_session_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based session aggregation with the built-in session_window.
    Works on both streaming (with watermark-bounded state) and batch frames.
    A session ends where the gap to the next event is >= `gap`
    (session_window merges only overlapping windows), so its batch twin
    operators/temporal.sessionize is compared with a `>=` split (see test).

    sum_value accumulates in DECIMAL(18,6) (the approx_rollup pattern):
    decimal addition is order-free, so the per-session sum is bit-exact
    regardless of merge order inside the session-window state store — and
    a cross-engine oracle reproduces it exactly instead of leaning on a
    round() over an order-sensitive double fold."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def _first_ever(
    keyed: DataFrame, digest: str, order: list[str], out_schema
) -> DataFrame:
    """Emit each `digest` value's first-ever row across all micro-batches:
    within a batch the row lowest in `order` wins (stable sort, first
    occurrence); state is the shard's seen-digest list, written only when
    the batch holds a fresh digest. The one fold of both exact dedups."""
    emit = out_schema.fieldNames()

    def fold(state, rows):
        seen = list(state[0]) if state is not None else []
        rows = rows.sort_values(order, kind="mergesort").drop_duplicates(
            digest, keep="first"
        )
        fresh = rows[~rows[digest].isin(set(seen))]
        if len(fresh) == 0:
            return None, None
        return (seen + fresh[digest].tolist(),), fresh[emit]

    # the shard: the digest's leading hex chars, 2 for 256 shards
    shard = F.substring(digest, 1, len(f"{_SHARDS - 1:x}"))
    return _fold_state(
        keyed.withColumn("_bkt", shard),
        "_bkt",
        fold,
        out_schema=out_schema,
        state_schema="seen array<string>",
        mode="append",
    )


def streaming_exact_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST document ever seen with
    each content digest, across all micro-batches (first-wins, matching the
    batch exact_dedup's keep-lowest semantics within a batch: intra-batch
    ties resolve to the lowest id). State is the distinct digests seen,
    sharded by digest prefix; it grows with distinct content, not stream
    length (pair with `streaming_horizon_dedup` when the duplicate
    horizon is known)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("digest", T.StringType()),
        ]
    )
    hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
    return _first_ever(hashed, "digest", [id_col], out_schema)


def streaming_horizon_dedup(
    docs: DataFrame,
    *,
    horizon: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-horizon streaming dedup via the ENGINE's
    `dropDuplicatesWithinWatermark`: keep the first document per content
    digest seen within `horizon` of event time; a duplicate arriving after
    the watermark has passed its predecessor's horizon is a NEW keeper
    (the engine evicted the state).

    Complements `streaming_exact_dedup` (unbounded first-wins, state =
    distinct digests forever): when the duplicate horizon is KNOWN —
    crawl re-fetches, retry storms, at-least-once upstream delivery —
    this bounds state by TIME instead of key cardinality, the right
    posture for an unbounded 100 TB ingest stream. Built-in engine
    operator: no Python in the hot path, state lives in the regular state
    store with watermark eviction.

    Returns the surviving (id, ts, digest) rows in append mode."""
    if not docs.isStreaming:
        # no silent batch twin: horizon-RESTART semantics (a duplicate
        # after its predecessor's horizon expires is a NEW keeper) need
        # the state store — a batch dropDuplicates would return global
        # first-wins with an ARBITRARY keeper and any batch-vs-replay
        # parity check would silently disagree. Replay batch data through
        # readStream + availableNow (tests/test_stateful.py shows the
        # shape), or use exact-digest dedup for batch global first-wins.
        raise ValueError(
            "streaming_horizon_dedup requires a streaming DataFrame: "
            "horizon-restart semantics are stateful — replay batch data "
            "via readStream + trigger(availableNow=True), or use "
            "operators.dedup exact-digest dedup for batch first-wins"
        )
    hashed = docs.select(
        F.col(id_col), F.col(ts_col), F.md5(F.col(text_col)).alias("digest")
    ).withWatermark(ts_col, horizon)
    return hashed.dropDuplicatesWithinWatermark(["digest"])


def streaming_unit_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str | None = None,
    window: int = 20,
) -> DataFrame:
    """Streaming paragraph/unit-level dedup — the continuous analog of the
    batch `operators.dedup.paragraph_dedup` (Lee et al. 2021 unit dedup):
    documents are split into units (natural paragraphs via `delimiter`, or
    `window`-token windows) and only the FIRST-ever occurrence of each
    distinct unit survives, across all micro-batches. Within a batch, ties
    resolve to the lexicographically-lowest (id, position) — the batch
    operator's keep rule — so a single-batch run reproduces batch output
    exactly (parity pinned in tests).

    Emits surviving units as (id, unit_idx, unit); reassemble documents in
    the sink with a per-batch groupBy(id) ordered concat (a stream cannot
    re-group globally — a doc whose units were all seen before simply emits
    nothing). State is the seen unit-digest set, bounded by distinct-unit
    count, not stream length, sharded by digest prefix."""
    from pyspark.sql import types as T

    from vettore_spark.operators.dedup import unit_chunks

    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("unit_idx", T.IntegerType()),
            T.StructField("unit", T.StringType()),
        ]
    )
    units = docs.select(
        F.col(id_col),
        F.posexplode(
            unit_chunks(text_col, delimiter=delimiter, window=window)
        ).alias("unit_idx", "unit"),
    ).withColumn("_digest", F.md5("unit"))
    return _first_ever(units, "_digest", [id_col, "unit_idx"], out_schema)


def streaming_simhash_candidates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    block_bits: int = 16,
    max_bucket: int = 64,
    hash_fn=None,
    emit_once: bool = False,
) -> DataFrame:
    """Streaming NEAR-dup candidate pairs across micro-batches: the
    streaming twin of dedup.simhash_pairs. Each document is posted to its
    64/block_bits SimHash block buckets; per-bucket state holds the member
    (id, simhash) list, and every arrival is verified by full 64-bit
    Hamming distance against the bucket's prior members — so a near-dup is
    caught even when its twin arrived in an EARLIER micro-batch.

    Emits (doc_a, doc_b, hamming, block) with doc_a < doc_b as pairs are
    discovered. By default a pair sharing several blocks is emitted once
    per sharing block (same as the batch op before its distinct) —
    aggregate downstream (e.g. `dropDuplicates(["doc_a","doc_b"])`).
    `emit_once=True` suppresses that duplication at the source: a pair is
    emitted only in its MINIMAL shared block (computable from the two
    signatures' xor — below the cap both members are resident in every
    shared block's bucket, so exactly one emission survives and raw
    output EQUALS the distinct pair set; the r14 sf0.1 corpus emits
    1.77M raw vs 1.41M distinct without it). A binding `max_bucket` cap would
    make the suppression DROP a pair whose minimal shared block froze
    one member out of residency while a later shared block caught it —
    emit_once therefore FAIL-FASTS when any bucket would exceed its cap
    (size the cap above the hottest bucket, or use the default
    emission, which keeps the cap's verify-but-don't-add semantics).
    Under emit_once the `block` column reports the minimal shared
    block, not every discovery.

    State per bucket is capped at `max_bucket` members (the batch op's
    hot-bucket guard): beyond it, new members are verified against the
    resident list but not added — bounded state at any stream length.
    Tuning on a hot-bucket-bound corpus (measured, SCALE.md r12): shrink
    `max_bucket` FIRST — cap 1024 vs 4096 saved 46% of replay wall for a
    7.6% pair-recall cost on the sf0.1 corpus (late family members still
    verify against the frozen residents, so most pairs survive). Do NOT
    widen `block_bits` for recall reasons: 32-bit blocks collapsed pair
    recall to 3% at max_hamming=8 (a near-dup almost never keeps a full
    32-bit block intact).

    `hash_fn` passes through to simhash64 (default xxhash64; pass
    text.poly_hash62 for the SQL-reproducible fingerprint a DuckDB oracle
    can recompute bit-for-bit — the driver-gate path).

    Pair verification and emission run JVM-SIDE (r15): the Python state
    function ships ONE compact row per (bucket, batch) — the resident
    members before the batch, the sorted arrivals, and how many of them
    joined (`add_n`) — and a codegen post-stage expands the two pair
    families (residents x arrivals; added-prefix x strictly-LATER
    arrivals, i.e. `i.pos < add_n and j.pos > i.pos`, which reduces to
    the full upper triangle below the cap where add_n = len(arrivals)),
    computes Hamming natively (`bit_count(sig_i ^ sig_j)`) and applies
    the emit_once minimal-shared-block suppression as expressions over
    the xor's block slices. The family decomposition is exactly the
    r12-verified closed form of the sequential cap rule (pinned against
    an independent sequential reference in tests/test_hardening_r12.py);
    what moved in r15 is WHERE the grid is evaluated. The r14 replay
    profile put this gate's floor at shipping ~1.4M verified pair rows
    pandas->Arrow->JVM (guide §4: the Python boundary charges per row) —
    the bucket rows are orders of magnitude fewer, and the quadratic
    grid work now runs in whole-stage codegen inside the same narrow
    stage that feeds the sink.

    State is sharded by (block, slice) hash: each shard's state holds its
    buckets' flattened member arrays tagged (blk, bval), and the
    per-bucket residency/cap/sort rules apply inside the shard, so the
    emitted pair multiset is the per-bucket form's (pinned by the
    sequential-reference test).
    """
    from pyspark.sql import types as T

    from vettore_spark.operators.dedup import simhash64_blocks, tokens

    id_type = docs.schema[id_col].dataType
    n_blocks = 64 // block_bits
    slice_mask = (1 << block_bits) - 1

    # One source scan, one SimHash fold per document: the signature AND
    # its 64/block_bits slice keys come out of a single expression
    # (simhash64_blocks binds the word in the fold's finish lambda), and
    # explode posts each doc to its block buckets (a per-block union of
    # re-projections re-scanned the source and re-ran the fold per block).
    keyed = docs.select(
        F.col(id_col),
        F.explode(
            simhash64_blocks(
                tokens(text_col), block_bits=block_bits, hash_fn=hash_fn
            )
        ).alias("_b"),
    ).select(
        F.col(id_col),
        F.col("_b._sig").alias("_sig"),
        F.col("_b._blk").alias("_blk"),
        F.col("_b._bval").alias("_bval"),
        _hash_shard("_b._blk", "_b._bval").alias("_g"),
    )

    # One compact row per (bucket, batch) crosses the Python boundary;
    # the pair grid is expanded JVM-side below.
    bucket_schema = T.StructType(
        [
            T.StructField("_blk", T.IntegerType()),
            T.StructField("res_ids", T.ArrayType(id_type)),
            T.StructField("res_sigs", T.ArrayType(T.LongType())),
            T.StructField("arr_ids", T.ArrayType(id_type)),
            T.StructField("arr_sigs", T.ArrayType(T.LongType())),
            T.StructField("add_n", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("blks", T.ArrayType(T.IntegerType())),
            T.StructField("bvals", T.ArrayType(T.LongType())),
            T.StructField("ids", T.ArrayType(id_type)),
            T.StructField("sigs", T.ArrayType(T.LongType())),
        ]
    )

    def fold(state, rows):
        s_blk, s_bval, s_ids, s_sigs = (
            (list(x) for x in state) if state is not None else ([], [], [], [])
        )
        # residents per bucket, in state (= join) order
        res: dict = {}
        for b, v, i, s in zip(s_blk, s_bval, s_ids, s_sigs):
            bucket = res.setdefault((b, v), ([], []))
            bucket[0].append(i)
            bucket[1].append(s)
        arr: dict = {}
        for b, v, i, s in zip(
            rows["_blk"].tolist(),
            rows["_bval"].tolist(),
            rows[id_col].tolist(),
            rows["_sig"].tolist(),
        ):
            arr.setdefault((int(b), int(v)), []).append((i, int(s)))
        out: list = []
        for (b, v), members in arr.items():
            members.sort()
            r_ids, r_sigs = res.get((b, v), ([], []))
            if emit_once and len(r_ids) + len(members) > max_bucket:
                # emit_once's exactly-once guarantee stands only while
                # every shared block's bucket holds both pair members — a
                # binding cap would make the suppression DROP pairs
                # silently (the minimal shared block froze a member out
                # of residency while a later block caught the pair).
                # Fail loudly instead: size max_bucket above the hottest
                # bucket, or run the default per-sharing-block emission,
                # which keeps cap semantics.
                raise ValueError(
                    f"emit_once: bucket (block={b}, key={v}) would "
                    f"exceed max_bucket={max_bucket} "
                    f"({len(r_ids)} resident + {len(members)} arriving); "
                    "exactly-once emission is only exact below the cap"
                )
            a_ids = [m[0] for m in members]
            a_sigs = [m[1] for m in members]
            # the sequential cap rule in closed form (r12, pinned in
            # tests/test_hardening_r12.py): only the first add_n sorted
            # arrivals join the residents; every arrival still verifies
            add_n = max(0, min(len(members), max_bucket - len(r_ids)))
            if (r_ids and a_ids) or len(a_ids) > 1:
                out.append((b, list(r_ids), list(r_sigs), a_ids, a_sigs, add_n))
            s_blk.extend([b] * add_n)
            s_bval.extend([v] * add_n)
            s_ids.extend(a_ids[:add_n])
            s_sigs.extend(a_sigs[:add_n])
        emitted = (
            pd.DataFrame(out, columns=bucket_schema.fieldNames()) if out else None
        )
        return (s_blk, s_bval, s_ids, s_sigs), emitted

    st = _fold_state(
        keyed,
        "_g",
        fold,
        out_schema=bucket_schema,
        state_schema=state_schema,
        mode="append",
    )

    # JVM pair expansion: members as (id, sig, pos) structs — residents
    # at pos -1, arrivals at their sorted position — exploded i x j with
    # the closed-form residency rule as a codegen predicate. Narrow from
    # the state op to the sink: no shuffle, no Python.
    def _members(ids_col: str, sigs_col: str, arrivals: bool):
        z = F.arrays_zip(F.col(ids_col), F.col(sigs_col))
        if arrivals:
            return F.transform(
                z,
                lambda s, i: F.struct(
                    s[ids_col].alias("id"),
                    s[sigs_col].alias("sig"),
                    i.cast("int").alias("pos"),
                ),
            )
        return F.transform(
            z,
            lambda s: F.struct(
                s[ids_col].alias("id"),
                s[sigs_col].alias("sig"),
                F.lit(-1).alias("pos"),
            ),
        )

    i_side = F.concat(
        _members("res_ids", "res_sigs", False),
        # arrivals are pair-SOURCES only while they join (pos < add_n)
        F.filter(
            _members("arr_ids", "arr_sigs", True),
            lambda s: s["pos"] < F.col("add_n"),
        ),
    )
    # materialize the j-side member array ONCE per bucket row (higher-
    # order functions are interpreted, not codegen'd: leaving the
    # transform inside the second explode would re-build the whole
    # struct array once per i-row — O(grid x members) interpreted work)
    e = st.select(
        F.col("_blk"),
        _members("arr_ids", "arr_sigs", True).alias("_js"),
        F.explode(i_side).alias("_i"),
    ).select(
        F.col("_blk"),
        F.col("_i"),
        F.explode(F.col("_js")).alias("_j"),
    )
    xor = F.col("_i.sig").bitwiseXOR(F.col("_j.sig"))
    hm = F.bit_count(xor)
    pairs = e.where(
        # residents pair with every arrival; an added arrival only with
        # strictly-later arrivals (the sequential-scan rule). A
        # duplicate-id re-arrival never self-pairs.
        ((F.col("_i.pos") == -1) | (F.col("_j.pos") > F.col("_i.pos")))
        & (F.col("_i.id") != F.col("_j.id"))
        & (hm <= F.lit(max_hamming))
    )
    if emit_once:
        # Emit a pair only in its MINIMAL shared block: below the cap
        # both members sit in every bucket whose slice values agree
        # (xor slice == 0), so keeping only blk == min(shared) makes raw
        # emission equal the distinct pair set. A discovered pair always
        # has xor slice 0 at its own block, so minblk <= _blk.
        minblk = F.lit(n_blocks)
        for b in range(n_blocks - 1, -1, -1):
            sl = F.shiftrightunsigned(xor, b * block_bits).bitwiseAND(
                F.lit(slice_mask)
            )
            minblk = F.when(sl == F.lit(0), F.lit(b)).otherwise(minblk)
        pairs = pairs.where(minblk == F.col("_blk"))
    return pairs.select(
        F.least(F.col("_i.id"), F.col("_j.id")).alias("doc_a"),
        F.greatest(F.col("_i.id"), F.col("_j.id")).alias("doc_b"),
        hm.cast("long").alias("hamming"),
        F.col("_blk").cast("int").alias("block"),
    )


def streaming_zscore_anomaly(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    id_col: str = "event_id",
    ts_col: str = "ts",
    value_col: str = "value",
    threshold: float = 2.5,
    min_history: int = 10,
) -> DataFrame:
    """Streaming anomaly detection: each event is z-scored against its
    key's FULL history so far (Welford running mean/M2 in state — O(1)
    per key), flagged when |z| > threshold after at least `min_history`
    prior events. The score uses state BEFORE the event updates it, so an
    outlier cannot mask itself (the same trailing-exclusive semantics as
    the batch events_anomaly operator). Rows inside one micro-batch are
    processed in (ts, id) order, making the stream's output equal to the
    batch expanding-window twin whenever batches arrive time-ordered
    (pinned by tests/test_stateful.py).

    Emits every event with (z, is_anomaly); z is -inf-free: events with
    insufficient history or zero variance emit z = 0.0, is_anomaly false.
    """
    out_schema = (
        f"{key_col} string, {id_col} long, {value_col} double, "
        "z double, is_anomaly boolean"
    )

    def fold(state, rows):
        n, mean, m2 = state if state is not None else (0, 0.0, 0.0)
        key = rows[key_col].iloc[0]
        rows = rows.sort_values([ts_col, id_col], kind="mergesort")
        ids, vals, zs, flags = [], [], [], []
        # plain-list iteration, NOT iterrows: the fold is inherently
        # sequential (each z reads the state the previous row wrote), so
        # it cannot vectorize without changing float operation order —
        # but iterrows paid ~100 µs/row of Series construction (the bulk
        # of this gate's addBatch, r14 replay profile); zip over
        # .tolist() columns runs the IDENTICAL arithmetic ~30x faster.
        for i_, v in zip(
            rows[id_col].tolist(),
            (float(x) for x in rows[value_col].tolist()),
        ):
            # NaN stance (NANPOLICY.md): a non-finite value scores z=0 /
            # unflagged AND is excluded from the Welford fold — folding
            # it in would set mean/m2 to NaN PERMANENTLY, silently
            # disabling the detector for the key's entire future (every
            # later z = NaN, abs(NaN) > t = False): one poisoned row
            # ending anomaly detection is the histogram-sketch crash
            # class (r12) in slow motion.
            finite = math.isfinite(v)
            if finite and n >= min_history and m2 > 0.0:
                std = (m2 / (n - 1)) ** 0.5
                z = (v - mean) / std if std > 0 else 0.0
            else:
                z = 0.0
            ids.append(int(i_))
            vals.append(v)
            zs.append(z)
            flags.append(abs(z) > threshold)
            if not finite:
                continue
            # Welford update AFTER scoring
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
        return (n, mean, m2), pd.DataFrame(
            {
                key_col: [key] * len(ids),
                id_col: ids,
                value_col: vals,
                "z": zs,
                "is_anomaly": flags,
            }
        )

    return _fold_state(
        events,
        key_col,
        fold,
        out_schema=out_schema,
        state_schema="n long, mean double, m2 double",
        mode="append",
    )


def streaming_funnel_stage(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
) -> DataFrame:
    """Streaming ordered-conversion-funnel tracking (the stateful twin of
    the batch `event_funnel` query): per user, state is the minimum
    achieved timestamp of each funnel stage — stage N counts only when its
    event STRICTLY follows the user's stage-(N-1) time. O(1) state per
    user (three longs), no event history retained; sharded by user hash.

    Rows inside one micro-batch are processed in (ts) order; the stream
    equals the batch funnel whenever micro-batches arrive time-ordered
    per user (the same contract as streaming_zscore_anomaly — enforce
    with a watermark + sorted source in production). Emits the user's
    current stage (0..3) after every micro-batch that touches the user;
    the LAST emission per user is the funnel position (the memory-sink
    pattern in tests takes the final row per user).

    Exactly three stages: the fixed-width state schema is the price of
    a static state struct.
    """
    if len(stages) != 3:
        raise ValueError("streaming_funnel_stage supports exactly 3 stages")
    # mirror the input's user-id type: hardcoding `long` would make string
    # user keys (the Collection id convention) fail at the first micro-batch
    user_t = events.schema[user_col].dataType.simpleString()
    # a shard holds its users' (t1, t2, t3) triples as parallel arrays;
    # missing times are the _SENT sentinel (a ts far above any ns epoch),
    # which makes every min/strictly-after comparison work unchanged
    state_schema = (
        f"keys array<{user_t}>, t1 array<long>, t2 array<long>, "
        "t3 array<long>"
    )
    _SENT = 1 << 62

    def _gate(prev: int, arr: "np.ndarray") -> int:
        acc = arr[arr > prev]
        return _SENT if len(acc) == 0 else int(acc.min())

    def fold(state, rows):
        st = {} if state is None else {
            u: (x1, x2, x3) for u, x1, x2, x3 in zip(*state)
        }
        # Vectorized closed form of the ts-ascending sequential fold (the
        # r14 iterrows removal). Equivalence: processing ts-ascending, a
        # stage-N event at time t is accepted iff the stage-(N-1) time
        # known AT THAT MOMENT is < t; that running minimum is
        # min(carried state, earliest qualifying stage-(N-1) event), and
        # events AFTER t (ts' >= t) can never push the minimum below t,
        # so gating on the GLOBAL minimum accepts exactly the same rows —
        # ts ties still resolve to 'skip' via the strict >. The final
        # state is the plain min over carried state and every accepted
        # event, which is order-free.
        tsv = rows[ts_col].to_numpy()
        if tsv.dtype.kind == "M":  # datetime64 -> ns longs
            tsv = tsv.astype("datetime64[ns]").astype(np.int64)
        else:
            tsv = tsv.astype(np.int64)
        usr = rows[user_col].to_numpy()
        typ = rows[type_col].to_numpy()
        order = np.argsort(usr, kind="stable")
        usr, tsv, typ = usr[order], tsv[order], typ[order]
        bounds = np.flatnonzero(usr[1:] != usr[:-1]) + 1
        out_users, out_stages = [], []
        for s, e in zip(np.r_[0, bounds], np.r_[bounds, len(usr)]):
            u = usr[s].item() if hasattr(usr[s], "item") else usr[s]
            t1, t2, t3 = st.get(u, (_SENT, _SENT, _SENT))
            tseg, yseg = tsv[s:e], typ[s:e]
            vs = tseg[yseg == stages[0]]
            if len(vs):
                t1 = min(t1, int(vs.min()))
            if t1 < _SENT:
                t2 = min(t2, _gate(t1, tseg[yseg == stages[1]]))
            if t2 < _SENT:
                t3 = min(t3, _gate(t2, tseg[yseg == stages[2]]))
            st[u] = (t1, t2, t3)
            out_users.append(u)
            out_stages.append(
                3 if t3 < _SENT else 2 if t2 < _SENT else (
                    1 if t1 < _SENT else 0
                )
            )
        new = (list(st.keys()), *([v[j] for v in st.values()] for j in range(3)))
        return new, pd.DataFrame({user_col: out_users, "stage": out_stages})

    return _fold_state(
        events.withColumn("_bkt", _hash_shard(user_col)),
        "_bkt",
        fold,
        out_schema=f"{user_col} {user_t}, stage int",
        state_schema=state_schema,
        mode="append",
    )


def streaming_kmv_distinct(
    events: DataFrame,
    *,
    k: int = 128,
    group_col: str = "event_type",
    key_col: str = "user_id",
) -> DataFrame:
    """Per-group RUNNING distinct-count estimate over an unbounded stream
    via a KMV (bottom-k) sketch held in state.

    Exact streaming count-distinct needs every key ever seen in state —
    unbounded. The sketch keeps the k smallest md5-derived 60-bit hashes
    per group (O(k) state regardless of stream length) and emits, per
    micro-batch, the group's current estimate: exact while fewer than k
    distinct hashes have arrived, the unbiased (k-1)/r_k bottom-k
    estimator after saturation. The hash is the SAME construction as the
    batch sketch (operators/sketch.hash60: first 15 hex chars of
    md5(str(key))), so after consuming a stream with
    trigger(availableNow=True) the final emission per group equals the
    batch kmv_estimate over the same rows bit-for-bit (pinned in
    tests/test_sketch.py).

    Output per micro-batch and group: (group, n_sketch, est_distinct).
    """
    import hashlib

    if k < 2:
        raise ValueError("kmv needs k >= 2")
    grp_t = events.schema[group_col].dataType.simpleString()
    domain = float(16 ** 15)

    def _h60(v) -> int:
        return int(hashlib.md5(str(v).encode("utf-8")).hexdigest()[:15], 16)

    def fold(state, rows):
        hs = set(state[0]) if state is not None else set()
        hs.update(_h60(v) for v in rows[key_col])
        bottom = sorted(hs)[:k]
        n = len(bottom)
        est = float(n) if n < k else (k - 1) * domain / float(bottom[-1])
        return (bottom,), pd.DataFrame(
            {
                group_col: [rows[group_col].iloc[0]],
                "n_sketch": [n],
                "est_distinct": [round(est, 3)],
            }
        )

    return _fold_state(
        events,
        group_col,
        fold,
        out_schema=f"{group_col} {grp_t}, n_sketch int, est_distinct double",
        state_schema="hs array<long>",
        mode="update",
    )


def streaming_histogram_quantiles(
    events: DataFrame,
    *,
    quantiles: list[float],
    bucket_width: float,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-group RUNNING quantile estimates over an unbounded stream via
    the fixed-boundary histogram sketch held in state — the streaming twin
    of operators/sketch.histogram_quantiles, completing the streaming
    sketch family (KMV, CMS, histogram).

    Exact streaming quantiles need every value ever seen; the histogram
    keeps one counter per OCCUPIED bucket per group (state bounded by the
    value range / bucket_width, not the stream length) and histograms are
    additive, so micro-batch ingestion is just counter addition. Each
    emission interpolates the current estimates with the SAME double
    arithmetic as the batch operator:
        est(q) = bucket_lo + w * (q*n - cum_below) / bucket_count
    (identical IEEE operation order; HALF_UP 4-dp round mirroring Spark's
    `round`), so after trigger(availableNow=True) the final emission per
    group equals the batch histogram_quantiles over the same rows
    bit-for-bit (pinned in tests/test_sketch.py).

    Output per micro-batch and group: (group, q, est) — one row per
    requested quantile.
    """
    from decimal import ROUND_HALF_UP, Decimal

    if not quantiles:
        raise ValueError("need at least one quantile")
    if not all(0.0 < q < 1.0 for q in quantiles):
        raise ValueError("quantiles must be in (0, 1)")
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    w = float(bucket_width)
    qs = sorted(float(q) for q in quantiles)
    grp_t = events.schema[group_col].dataType.simpleString()
    q4 = Decimal("0.0001")

    def fold(state, rows):
        hist = dict(zip(*state)) if state is not None else {}
        vc = rows[value_col].astype("float64")
        # finite values only (r12, batch parity): a NULL arrives as NaN
        # here and math.floor(nan) raises — one poisoned row would kill
        # the whole streaming query; inf overflows the bucket index. The
        # batch twin filters the same rows.
        vc = vc[np.isfinite(vc)]
        for b, c in vc.map(lambda v: math.floor(v / w)).value_counts().items():
            hist[int(b)] = hist.get(int(b), 0) + int(c)
        items = sorted(hist.items())
        new = ([b for b, _ in items], [c for _, c in items])
        if not items:  # a batch of only non-finite values: nothing to
            return new, None  # estimate yet — emit no row, keep (empty) state
        n = float(sum(hist.values()))
        ests = []
        for q in qs:
            t = q * n
            cum = 0
            for b, c in items:
                below = float(cum)
                cum += c
                if below < t <= float(cum):
                    est = float(b) * w + w * ((t - below) / float(c))
                    ests.append(
                        float(Decimal(est).quantize(q4, rounding=ROUND_HALF_UP))
                    )
                    break
        return new, pd.DataFrame(
            {group_col: [rows[group_col].iloc[0]] * len(qs), "q": qs, "est": ests}
        )

    return _fold_state(
        events,
        group_col,
        fold,
        out_schema=f"{group_col} {grp_t}, q double, est double",
        state_schema="bs array<long>, cs array<long>",
        mode="update",
    )


def streaming_moment_stats(
    vectors: DataFrame,
    *,
    dim: int,
    group_col: str = "label",
    vector_col: str = "embedding",
    scale_bits: int = 24,
) -> DataFrame:
    """Per-group RUNNING embedding-distribution stats (n, mean_norm,
    var_trace) over an unbounded vector stream — the streaming twin of
    encodings/moments.moment_stats_fixed, completing the streaming sketch
    family (KMV, CMS, histogram, moments) with the drift monitor's
    continuous form: watch a corpus's centroid magnitude and scatter move
    micro-batch by micro-batch as a crawl streams in.

    Exact parity with the batch twin is by FIXED-POINT construction:
    every element is quantized once (floor(x·2^b + 0.5) — identical IEEE
    ops here and in the batch operator), the state carries only integer
    sums (n, Σfx, Σfx²; 2d longs per group, O(1) in stream length), and
    integer addition is order-free — so after trigger(availableNow=True)
    the final emission per group equals moment_stats_fixed over the same
    rows bit-for-bit (pinned in tests/test_moments.py). The float
    emission formula is the same defined left-fold over ascending dims.

    NaN stance (NANPOLICY.md), shared with the batch twin: a row whose
    vector is NULL or holds a non-finite (or NULL) element is dropped on
    arrival, never counted — NaN would cast to INT64_MIN in the sums and
    poison the group's state for good. A batch with no finite row for a
    group emits nothing and leaves its state as it was.
    """
    s = float(1 << scale_bits)
    grp_t = vectors.schema[group_col].dataType.simpleString()
    out_schema = (
        f"{group_col} {grp_t}, n long, mean_norm double, var_trace double"
    )

    def fx(a: np.ndarray) -> np.ndarray:
        return np.floor(a * s + 0.5).astype(np.int64).sum(axis=0)

    def fold(state, rows):
        vs = [
            np.asarray(v, dtype=np.float64)
            for v in rows[vector_col]
            if v is not None
        ]
        x = np.array(vs) if vs else np.empty((0, dim))
        x = x[np.isfinite(x).all(axis=1)]
        if len(x) == 0:
            return None, None
        n, sfx, qfx = state if state is not None else (0, [0] * dim, [0] * dim)
        n += len(x)
        sfx = np.asarray(sfx, dtype=np.int64) + fx(x)
        qfx = np.asarray(qfx, dtype=np.int64) + fx(x * x)
        # the SAME left-fold over ascending dims as the batch twin
        acc_m = 0.0
        acc_v = 0.0
        for i in range(dim):
            m_i = float(sfx[i]) / float(n) / s
            q_i = float(qfx[i]) / float(n) / s
            acc_m = acc_m + m_i * m_i
            acc_v = acc_v + (q_i - m_i * m_i)
        return (int(n), sfx.tolist(), qfx.tolist()), pd.DataFrame(
            {
                group_col: [rows[group_col].iloc[0]],
                "n": [n],
                "mean_norm": [math.sqrt(acc_m)],
                "var_trace": [acc_v],
            }
        )

    return _fold_state(
        vectors,
        group_col,
        fold,
        out_schema=out_schema,
        state_schema="n long, sfx array<long>, qfx array<long>",
        mode="update",
    )
