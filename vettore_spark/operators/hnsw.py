"""HNSW approximate nearest-neighbor search, Spark-partition-parallel.

Re-implements the reference's HNSW semantics (native/vettore/src/hnsw.rs) in
NumPy/Python and distributes it per-partition:

- params + bounds: m<=1024, m0 in [m, 2048], ef_construction in [m, 1e6],
  ef_search <= 1e6, max_level <= 64; defaults m=16 m0=32 ef_c=100 ef_s=64
  max_level=12 (lib/vettore/index/hnsw.ex:13-26, hnsw.rs:23-50)
- DETERMINISTIC level from an FNV-1a hash of the external id — two low bits
  zero -> climb a level (hnsw.rs:473-481, 490-497). No RNG, so rebuilds are
  reproducible across partitions (SURVEY §4 P9).
- insert: greedy descent through upper layers, ef_construction beam per
  layer, (dist, id)-sorted truncation to m/m0, reciprocal linking + pruning
  (hnsw.rs:152-245, prune :437-465)
- search: greedy descent to layer 1, layer-0 beam with max(ef_search, k),
  order by (rank_dist, external_id), raw metric recomputed for output
  (hnsw.rs:292-333); metrics l2/cosine/inner_product only

Distribution model (SURVEY §2.7 Q6 option b): the collection is
hash-partitioned by id; each partition builds an independent graph and
answers every query locally; a global (rank, id) top-k merge follows. Recall
differs from a single graph and is validated against the exact oracle via
overlap@k — the reference's own pattern for approximate modes
(bench/search_modes_bench.exs:193-238).

Scale: graph build is O(n log n)-ish per partition and embarrassingly
parallel; queries are broadcast once per batch, so the shuffle is only
O(num_queries * k). For repeated query batches against a static collection,
persist the partitioned collection DataFrame so partition membership (and
thus the graphs) stay stable.

Single-query serving has a driver tier: while a shard table's blobs total
at most `_HNSW_DRIVER_MAX_BYTES`, a Collection holds its graphs unpickled
on the driver (`collect_graph_shards`) and answers one query there
(`driver_search_sql`) with no Spark job, as the reference walks its
in-memory graph (hnsw.rs:125-133); past the bound, `search_graph_shards`.
"""

from __future__ import annotations

import heapq
import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_HNSW_METRICS = ("l2", "cosine", "inner_product")

# Blob bytes up to which a resident shard table is also held unpickled on
# the driver, where a single query is answered with no Spark job
# (sources.store.HnswShards, `driver_search_sql`); past it every request
# runs `search_graph_shards` on the executors. Tests set it to 0 to force
# the executor tier.
_HNSW_DRIVER_MAX_BYTES = 64 << 20


@dataclass(frozen=True)
class HnswParams:
    m: int = 16
    m0: int = 32
    ef_construction: int = 100
    ef_search: int = 64
    max_level: int = 12

    def __post_init__(self):
        if not (0 < self.m <= 1024):
            raise ValueError("m must be in (0, 1024]")
        if not (self.m <= self.m0 <= 2048):
            raise ValueError("m0 must be in [m, 2048]")
        if not (self.m <= self.ef_construction <= 1_000_000):
            raise ValueError("ef_construction must be in [m, 1e6]")
        if not (0 < self.ef_search <= 1_000_000):
            raise ValueError("ef_search must be in (0, 1e6]")
        if not (0 <= self.max_level <= 64):
            raise ValueError("max_level must be in [0, 64]")


def fnv1a64(data: bytes) -> int:
    """FNV-1a 64-bit (public algorithm; used for level assignment parity
    with hnsw.rs:490-497)."""
    h = 0xCBF29CE484222325
    for b in data:
        h ^= b
        h = (h * 0x00000100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def level_for(external_id: str, max_level: int) -> int:
    """Deterministic layer: consume two bits per level while both are zero
    (hnsw.rs:473-481)."""
    h = fnv1a64(str(external_id).encode())
    level = 0
    while level < max_level and (h & 0b11) == 0:
        level += 1
        h >>= 2
    return level


def rank_distance(metric: str, raw: float) -> float:
    """Ascending rank distance of a raw metric value; a non-finite one
    compares as +inf, so a malformed vector never wins a beam slot or a
    result slot (NaN compares False both ways and would break the heaps
    and sorts). Under (rank, id) this is `search.rank_order`'s order:
    SQL ranks a non-finite value NULL, NULLS LAST."""
    if metric == "cosine":
        rank = 1.0 - raw
    elif metric == "inner_product":
        rank = -raw
    else:
        rank = raw
    return rank if math.isfinite(rank) else math.inf


class HnswGraph:
    """Single-machine HNSW graph (one Spark partition's shard)."""

    def __init__(self, metric: str = "cosine", params: HnswParams | None = None):
        if metric not in _HNSW_METRICS:
            raise ValueError(f"hnsw supports {_HNSW_METRICS}, got {metric!r}")
        self.metric = metric
        self.params = params or HnswParams()
        self.vectors: list[np.ndarray] = []
        self.ext_ids: list = []
        self.levels: list[int] = []
        self.connections: list[list[list[int]]] = []  # node -> layer -> ids
        self.entry: int | None = None
        self.deleted: set[int] = set()  # tombstoned internal ids

    # -- distances ----------------------------------------------------------

    def _raw(self, a: np.ndarray, b: np.ndarray) -> float:
        if self.metric == "l2":
            d = a - b
            return float(np.sqrt(d @ d))
        return float(a @ b)  # cosine (pre-normalized) and inner_product: dot

    def _rank(self, a: np.ndarray, b: np.ndarray) -> float:
        return rank_distance(self.metric, self._raw(a, b))

    # -- build --------------------------------------------------------------

    def insert(self, external_id, vector) -> None:
        v = np.asarray(vector, dtype=np.float64)
        nid = len(self.vectors)
        lvl = level_for(external_id, self.params.max_level)
        self.vectors.append(v)
        self.ext_ids.append(external_id)
        self.levels.append(lvl)
        self.connections.append([[] for _ in range(lvl + 1)])

        if self.entry is None:
            self.entry = nid
            return

        entry = self.entry
        top = self.levels[entry]
        for layer in range(top, lvl, -1):
            entry = self._greedy_closest(entry, v, layer)

        for layer in range(min(lvl, top), -1, -1):
            cands = self._search_layer(entry, v, layer, self.params.ef_construction)
            cands.sort(key=lambda t: (t[0], t[1]))
            limit = self.params.m0 if layer == 0 else self.params.m
            cands = cands[:limit]
            self.connections[nid][layer] = [cid for _, cid in cands]
            if cands:
                entry = cands[0][1]

        # reciprocal links + prune (new node exists before pruning)
        for layer, neighbors in enumerate(self.connections[nid]):
            for nb in neighbors:
                if layer < len(self.connections[nb]) and nid not in self.connections[nb][layer]:
                    self.connections[nb][layer].append(nid)
                self._prune(nb, layer)

        if lvl > self.levels[self.entry]:
            self.entry = nid

    def _prune(self, nid: int, layer: int) -> None:
        limit = self.params.m0 if layer == 0 else self.params.m
        if layer >= len(self.connections[nid]):
            return
        conns = self.connections[nid][layer]
        if len(conns) <= limit:
            return
        v = self.vectors[nid]
        scored = sorted(
            ((self._rank(v, self.vectors[c]), c) for c in conns),
            key=lambda t: (t[0], t[1]),
        )
        self.connections[nid][layer] = [c for _, c in scored[:limit]]

    def _greedy_closest(self, start: int, q: np.ndarray, layer: int) -> int:
        best = start
        best_d = self._rank(q, self.vectors[start])
        improved = True
        while improved:
            improved = False
            for nb in self.connections[best][layer] if layer < len(self.connections[best]) else []:
                d = self._rank(q, self.vectors[nb])
                if d < best_d or (d == best_d and nb < best):
                    best, best_d, improved = nb, d, True
        return best

    def _search_layer(
        self, entry: int, q: np.ndarray, layer: int, ef: int
    ) -> list[tuple[float, int]]:
        """Beam search on one layer; returns [(rank_dist, node_id)]."""
        d0 = self._rank(q, self.vectors[entry])
        visited = {entry}
        candidates = [(d0, entry)]  # min-heap
        results = [(-d0, entry)]  # max-heap (bounded by ef)
        while candidates:
            d, node = heapq.heappop(candidates)
            if d > -results[0][0]:
                break
            for nb in (
                self.connections[node][layer]
                if layer < len(self.connections[node])
                else []
            ):
                if nb in visited:
                    continue
                visited.add(nb)
                nd = self._rank(q, self.vectors[nb])
                if len(results) < ef or nd < -results[0][0]:
                    heapq.heappush(candidates, (nd, nb))
                    heapq.heappush(results, (-nd, nb))
                    if len(results) > ef:
                        heapq.heappop(results)
        return [(-nd, node) for nd, node in results]

    def delete(self, external_id) -> bool:
        """Delete with entry replacement (hnsw.rs:263-289): tombstone the
        node, strip every incoming edge (making it unreachable), and if it
        was the entry point promote the highest-layer surviving node
        (smallest external id on ties). Returns False when the id is not
        present. O(edges) — the incremental maintenance path; no rebuild."""
        dead = getattr(self, "deleted", None)
        if dead is None:
            dead = self.deleted = set()
        nid = next(
            (
                i
                for i, e in enumerate(self.ext_ids)
                if e == external_id and i not in dead
            ),
            None,
        )
        if nid is None:
            return False
        dead.add(nid)
        self.connections[nid] = [[] for _ in self.connections[nid]]
        for other, layers in enumerate(self.connections):
            if other in dead:
                continue
            for layer in range(len(layers)):
                layers[layer] = [c for c in layers[layer] if c != nid]
        if self.entry == nid:
            alive = [i for i in range(len(self.vectors)) if i not in dead]
            self.entry = (
                min(alive, key=lambda i: (-self.levels[i], str(self.ext_ids[i])))
                if alive
                else None
            )
        return True

    # -- query --------------------------------------------------------------

    def search(
        self, query, limit: int, ef: int | None = None
    ) -> list[tuple[object, float]]:
        """Returns [(external_id, raw_metric)] ordered by (rank, external_id)
        (hnsw.rs:292-333). `ef` is this call's beam width (default the
        build's `params.ef_search`); the graph itself is only read, so
        concurrent searches may share it."""
        if limit == 0 or self.entry is None:
            return []
        q = np.asarray(query, dtype=np.float64)
        entry = self.entry
        for layer in range(self.levels[entry], 0, -1):
            entry = self._greedy_closest(entry, q, layer)
        best = self._search_layer(
            entry, q, 0, max(self.params.ef_search if ef is None else ef, limit)
        )
        # tie-break by the NATIVE id, matching the global shard-merge
        # window's ordering (search_graph_shards sorts by the id column's
        # own type): a str() key here would cut numeric-id ties at the
        # shard-local limit in a different order than the merge expects
        # (str '10' < '9'), returning the wrong tie member. One graph
        # holds one id type, so native comparison is always defined.
        best.sort(key=lambda t: (t[0], self.ext_ids[t[1]]))
        out = []
        for _, nid in best[:limit]:
            out.append((self.ext_ids[nid], self._raw(q, self.vectors[nid])))
        return out


def build_graph_shards(
    coll: DataFrame,
    *,
    metric: str = "cosine",
    params: HnswParams | None = None,
    id_col: str = "id",
    vector_col: str = "vector",
    num_partitions: int | None = None,
) -> DataFrame:
    """Build the persisted HNSW index table: one row per shard holding the
    pickled graph for that shard's rows (hash-partitioned by id, inserted in
    sorted-id order, deterministic FNV-1a levels — so the table is a pure
    function of the collection, rebuildable like the reference's
    load_snapshot index rebuild, collection.ex:426-433).

    Built ONCE per (collection, params) via the keyed persist cache and
    reused by every subsequent `hnsw_search` — the reference's residency
    model, where `put` maintains the graph incrementally (hnsw.rs:152-245)
    and `search` only reads it. At scale the shard blob is O(rows_per_shard
    * (dims*8 + m*16)) and stays executor-resident; a search shuffles only
    O(num_queries * k) rows."""
    import pickle

    from vettore_spark.functions import kernels as K
    from vettore_spark.plans.cache import cached_persist

    p = params or HnswParams()
    m = K.canonical_metric(metric)
    src = coll.select(id_col, vector_col)

    def build(s: DataFrame) -> DataFrame:
        part = s
        if num_partitions is not None:
            part = part.repartition(num_partitions, F.col(id_col))

        def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            rows_id: list = []
            rows_vec: list = []
            for pdf in it:
                rows_id.extend(pdf[id_col].tolist())
                rows_vec.extend(
                    np.asarray(v, dtype=np.float64) for v in pdf[vector_col]
                )
            if not rows_id:
                return
            order = sorted(range(len(rows_id)), key=lambda i: str(rows_id[i]))
            g = HnswGraph(metric=m, params=p)
            for i in order:
                g.insert(rows_id[i], rows_vec[i])
            # shard_id = physical partition id: the stable routing key for
            # incremental maintenance (insert_many_into_graph_shards)
            pid = TaskContext.get().partitionId()
            yield pd.DataFrame({"shard_id": [pid], "shard": [pickle.dumps(g)]})

        return part.mapInPandas(run, "shard_id long, shard binary")

    return cached_persist(
        src,
        # EVERY params field is in the key (the cached_persist contract):
        # the pickled graphs embed ef_search as the search-time default,
        # so omitting it would silently serve a cache hit built with the
        # FIRST caller's beam width to a caller who asked for a wider one
        ("hnsw_shards", m, p.m, p.m0, p.ef_construction, p.ef_search,
         p.max_level, id_col, vector_col, num_partitions),
        build,
    )


def delete_from_graph_shards(shards: DataFrame, external_id) -> DataFrame:
    """Incremental index maintenance: patch the ONE shard holding
    `external_id` (tombstone + edge strip + entry replacement,
    HnswGraph.delete / hnsw.rs:263-289) and pass every other shard through
    untouched — no rebuild of any graph. Returns the patched shard table;
    at scale this is one narrow map over O(shards) rows instead of an
    O(n log n) per-shard reconstruction."""
    import pickle

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for blob in pdf["shard"]:
                g: HnswGraph = pickle.loads(bytes(blob))
                out.append(pickle.dumps(g) if g.delete(external_id) else blob)
            yield pd.DataFrame({"shard_id": pdf["shard_id"], "shard": out})

    return shards.mapInPandas(run, "shard_id long, shard binary")


def _insert_members(blob, members) -> bytes:
    """One shard's patch, shared by both insert paths: the pickled graph
    with `members` ((id, vector) pairs, ids new to it) inserted in
    sorted-id order — the build path's determinism rule, so a patched
    table is a pure function of (previous table, batch)."""
    import pickle

    g: HnswGraph = pickle.loads(bytes(blob))
    for rid, vec in sorted(members, key=lambda m: str(m[0])):
        g.insert(rid, np.asarray(vec, dtype=np.float64))
    return pickle.dumps(g)


def _route_rows(
    rows: list[tuple[object, list[float]]], shard_ids: list[int]
) -> dict[int, list[tuple[object, np.ndarray]]]:
    """Each row's target shard: FNV-1a(str(id)) over the sorted shard ids
    (the rule `insert_df_into_graph_shards` computes executor-side)."""
    sids = sorted(shard_ids)
    if not sids:
        raise ValueError("cannot insert into an empty shard table")
    routed: dict[int, list[tuple[object, np.ndarray]]] = {}
    for rid, vec in rows:
        t = sids[fnv1a64(str(rid).encode()) % len(sids)]
        routed.setdefault(t, []).append((rid, np.asarray(vec, dtype=np.float64)))
    return routed


def _insert_rows(
    shards: DataFrame,
    rows: list[tuple[object, list[float]]],
    shard_ids: list[int],
) -> DataFrame:
    """`insert_many_into_graph_shards` without its stale-list guard, for a
    caller whose `shard_ids` is the table's exact id list: one narrow
    mapInPandas over the whole shard table that runs no job and keeps its
    partitions."""
    routed = _route_rows(rows, shard_ids)
    if not routed:
        return shards

    # the routed rows ride in the task closure, NOT a SparkContext
    # broadcast: a broadcast per ingest batch is never destroyed and
    # accumulates dead blocks for the application lifetime, while the
    # closure is bounded by the caller's batch cap and GC'd with the plan
    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [
                _insert_members(blob, routed[int(sid)]) if int(sid) in routed else blob
                for sid, blob in zip(pdf["shard_id"], pdf["shard"])
            ]
            yield pd.DataFrame({"shard_id": pdf["shard_id"], "shard": out})

    return shards.mapInPandas(run, "shard_id long, shard binary")


def insert_many_into_graph_shards(
    shards: DataFrame,
    rows: list[tuple[object, list[float]]],
    *,
    shard_ids: list[int] | None = None,
) -> DataFrame:
    """Incremental insert of a driver-small batch (one row is a one-row
    batch): route every (id, vector) to its deterministic FNV-1a target
    shard and insert each shard's rows into its graph (HnswGraph.insert —
    the reference's insert-time graph maintenance, hnsw.rs:152-245) in
    ONE narrow mapInPandas over the table, whose untouched blobs pass
    through. The result keeps the table's partitions. Caller contract:
    ids must be new to the index (Collection rejects duplicate ids at
    put time).

    Search correctness does not depend on the routing (search scans every
    shard and merges by (rank, id)); routing only balances growth.
    `shard_ids` overrides the routing list (default: the table's own).
    Either way one small collect reads the table's shard ids, and a row
    routed to a shard absent from the table raises ValueError instead of
    being lost (build_graph_shards emits no row for an empty partition,
    so range(num_partitions) is NOT a valid list)."""
    present = {r["shard_id"] for r in shards.select("shard_id").collect()}
    sids = sorted(present) if shard_ids is None else shard_ids
    missing = sorted(set(_route_rows(rows, sids)) - present)
    if missing:
        raise ValueError(
            f"shard_ids is stale: routed target shards {missing[:5]} are "
            "not in the shard table — collect the id list from the "
            "CURRENT table (build_graph_shards emits no row for an empty "
            "partition, so range(num_partitions) is NOT a valid list)"
        )
    return _insert_rows(shards, rows, sids)


def insert_df_into_graph_shards(
    shards: DataFrame,
    new_rows: DataFrame,
    *,
    shard_ids: list[int],
    id_col: str = "id",
    vector_col: str = "vector",
) -> DataFrame:
    """DataFrame-sized incremental insert with NO driver collect of the
    batch: tag each new row with its deterministic FNV-1a target shard
    (the list path's routing rule, computed executor-side in an Arrow
    batch), cogroup the touched shards with their routed rows on
    shard_id, and insert each shard's members with the list path's
    per-shard body. Untouched shards pass through, and the result keeps
    the table's partition count. A corpus-sized ingest batch never rides
    the task closure or the driver.

    `shard_ids` is required (driver-small, known at build time): routing
    must see the COMPLETE shard-id list, and deriving it from `shards`
    here would mean a collect. Rows routed to a shard absent from the
    table fail the patch's job (the shard_ids list is stale). Caller
    contract as the list path: ids must be new to the index."""
    sids = sorted(shard_ids)
    if not sids:
        raise ValueError("cannot insert into an empty shard table")
    n_sids = len(sids)
    sid_np = np.asarray(sids, dtype=np.int64)

    @F.pandas_udf("long")
    def _route(ids: pd.Series) -> pd.Series:
        # Vectorized FNV-1a over the Arrow batch: view the fixed-width
        # unicode block as a codepoint matrix and fold column-by-column
        # with uint64 wraparound arithmetic — max_len iterations of
        # whole-column ops instead of a Python lambda per id. For ASCII
        # ids (every id the numeric/uuid paths produce) codepoints ==
        # utf-8 bytes, so the hash is bit-identical to fnv1a64(); any
        # non-ASCII or NUL-bearing batch falls back to the scalar rule
        # to preserve routing parity with the build path.
        s = ids.to_numpy(dtype="U")
        n = len(s)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        width = s.dtype.itemsize // 4
        h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
        prime = np.uint64(0x00000100000001B3)
        # true pre-conversion lengths: numpy's fixed-width U conversion
        # silently DROPS trailing '\x00' characters (they read as
        # padding), so the converted block alone cannot tell "a" from
        # "a\x00" — compare against the original Series' lengths and
        # send any mismatch down the scalar path over the ORIGINAL
        # values, where the bytes are intact.
        orig_lens = ids.astype(str).str.len().to_numpy(dtype=np.int64)
        if width:
            codes = np.ascontiguousarray(s).view(np.uint32).reshape(n, width)
            lens = np.char.str_len(s)
            ascii_ok = int(codes.max()) < 128 and bool(
                (lens == (codes != 0).sum(axis=1)).all()
                and (lens == orig_lens).all()
            )
        else:
            codes = None
            # zero-width block: only truly-empty ids hash to the offset
            # basis; a "\x00" id (orig len 1) must take the scalar path
            ascii_ok = bool((orig_lens == 0).all())
        if ascii_ok:
            for j in range(width):
                c = codes[:, j].astype(np.uint64)
                m = c != 0
                if not m.any():
                    break
                h[m] = (h[m] ^ c[m]) * prime
        else:
            h = np.fromiter(
                (fnv1a64(str(x).encode("utf-8")) for x in ids),
                dtype=np.uint64,
                count=n,
            )
        return pd.Series(sid_np[(h % np.uint64(n_sids)).astype(np.int64)])

    # _nid keeps the column's ORIGINAL type (the graph's external ids and
    # the search output column must stay type-consistent with the build
    # path); only the routing hash reads the string rendering.
    routed = new_rows.select(
        F.col(id_col).alias("_nid"),
        F.col(vector_col).cast("array<double>").alias("_nvec"),
        _route(F.col(id_col).cast("string")).alias("shard_id"),
    )

    def patch(key, shard_pdf: pd.DataFrame, rows_pdf: pd.DataFrame) -> pd.DataFrame:
        if shard_pdf.empty:
            # routing only targets listed shard ids, so a rows-only key
            # means the caller passed a stale/incomplete shard_ids list
            raise ValueError(
                f"rows routed to unknown shard {key[0]}: shard_ids is stale"
            )
        members = list(zip(rows_pdf["_nid"], rows_pdf["_nvec"]))
        return pd.DataFrame({
            "shard_id": shard_pdf["shard_id"],
            "shard": [_insert_members(b, members) for b in shard_pdf["shard"]],
        })

    # only TOUCHED shards enter the cogroup: it shuffles its inputs and
    # round-trips every blob through Arrow/Python, so feeding it shards
    # with no incoming rows ships the big payload for nothing. The target
    # set is one distinct+collect bounded by the shard count (not the
    # batch). A broadcast-join split was measured instead and rejected:
    # its two join subqueries re-execute the Python routing stage on
    # every action (3 Python round trips/action vs 1 here).
    targets = sorted(
        r["shard_id"] for r in routed.select("shard_id").distinct().collect()
    )
    if not targets:
        return shards
    touched = shards.filter(F.col("shard_id").isin(targets))
    untouched = shards.filter(~F.col("shard_id").isin(targets))
    patched = (
        touched.groupby("shard_id")
        .cogroup(routed.groupby("shard_id"))
        .applyInPandas(patch, "shard_id long, shard binary")
    )
    # the union holds the table's partitions plus the cogroup's; a narrow
    # coalesce merges them back, so a run of batches never widens the
    # table (and every later scan's task count with it)
    return patched.unionByName(untouched).coalesce(shards.rdd.getNumPartitions())


def search_graph_shards(
    shards: DataFrame,
    queries: list[tuple[object, list[float]]],
    *,
    metric: str,
    k: int = 10,
    ef_search: int | None = None,
    id_col: str = "id",
    id_type: T.DataType | None = None,
    score_mode: str = "raw",
) -> DataFrame:
    """Batch search over an existing graph-shard table (built by
    `build_graph_shards`, possibly patched by `delete_from_graph_shards`):
    answer every query against each shard, merge with the global
    per-query top-k window (`search.rank_per_query`: rank ascending NULLS
    LAST, then id — a non-finite vector ranks NULL, after every finite
    row); one query merges by `search.rank_order` + LIMIT k, with no
    exchange. `ef_search` overrides the build-time beam for this call.
    The scan runs in at most `defaultParallelism` tasks (one wave): each
    task unpickles and searches every shard its partition holds.

    This is the executor tier. A Collection serves one query from graphs
    held on the driver instead (`collect_graph_shards`,
    `driver_search_sql`) while the table's blobs stay within
    `_HNSW_DRIVER_MAX_BYTES`, with the same rows in the same order.

    `id_type` declares the emitted id column's Spark type and should match
    the collection's native id type (Collection passes its own schema
    type). When omitted the declared type is StringType and the graphs'
    external ids are COERCED to str on emission — without the coercion a
    graph built over long ids would hit an Arrow type error mid-job
    ('Expected bytes, got int') under the string default. Callers joining
    the results back against a non-string id column must pass the real
    type."""
    import pickle

    from vettore_spark.functions import kernels as K
    from vettore_spark.operators import search as S

    m = K.canonical_metric(metric)
    stringify = id_type is None
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField(id_col, id_type or T.StringType()),
            T.StructField("_raw", T.DoubleType()),
        ]
    )
    qlist = [(str(qid), np.asarray(qv, dtype=np.float64)) for qid, qv in queries]
    ef = ef_search
    if ef is not None:
        HnswParams(ef_search=ef)  # the beam width's bounds

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for blob in pdf["shard"]:
                g: HnswGraph = pickle.loads(bytes(blob))
                out_q, out_i, out_r = [], [], []
                for qid, qv in qlist:
                    for eid, raw in g.search(qv, k, ef):
                        out_q.append(qid)
                        out_i.append(str(eid) if stringify else eid)
                        out_r.append(raw)
                yield pd.DataFrame(
                    {"query_id": out_q, id_col: out_i, "_raw": out_r}
                )

    # at most one task per slot: a shard table wider than the cluster would
    # otherwise pay a second Python task wave (coalesce never widens it)
    slots = shards.sparkSession.sparkContext.defaultParallelism
    local = shards.coalesce(slots).mapInPandas(run, out_schema)
    items = S._score_exprs("_raw", ["query_id", id_col], metric=m, score_mode=score_mode)[1]
    scored = f"SELECT {', '.join(items)} FROM {{scan}}"
    if len(qlist) == 1:
        # one query: `rank_order` + LIMIT k plans as TakeOrderedAndProject,
        # and the rank window reads the k survivors in one partition
        scored += f" ORDER BY {S.rank_order_sql('_rank', id_col)} LIMIT {k}"
    # the merge is SQL text over the scan: its DataFrame forms cost ~110
    # py4j calls to build, this ~10. The scan's plan is never persisted,
    # so the kwarg binding's view drop uncaches nothing
    return local.sparkSession.sql(S.rank_per_query_sql(
        f"({scored})", k, cols=["query_id", id_col, "score", "distance"], id_col=id_col,
    ), scan=local)


def collect_graph_shards(
    shards: DataFrame, cap: int
) -> tuple[int, list[HnswGraph] | None]:
    """One collect of a graph-shard table for the driver tier: its total
    blob bytes, and its graphs unpickled in shard-id order when every blob
    holds at most `cap` bytes (else None). No blob past `cap` leaves the
    executors, so a caller bounds the bytes it collects by `cap` times the
    shard count without knowing the table's size."""
    import pickle

    rows = shards.selectExpr(
        "shard_id", "octet_length(shard) AS n",
        f"IF(octet_length(shard) <= {int(cap)}, shard, NULL) AS shard",
    ).collect()
    nbytes = sum(r["n"] for r in rows)
    if any(r["shard"] is None for r in rows):
        return nbytes, None
    return nbytes, [
        pickle.loads(r["shard"]) for r in sorted(rows, key=lambda r: r["shard_id"])
    ]


def _string_sql(s: str) -> str:
    """A string literal of `s` that reads back exactly, whatever its
    characters and the session's escape setting: its UTF-8 bytes in hex."""
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def driver_search_sql(
    graphs: list[HnswGraph],
    query: list[float],
    *,
    metric: str,
    k: int,
    ef_search: int | None = None,
    score_mode: str = "raw",
) -> str:
    """One query against graphs held on the driver (`collect_graph_shards`)
    as one SQL text: (id, score, distance, rank), the rows and order
    `search_graph_shards` gives for the query. Each graph's top k
    (`HnswGraph.search`, beam `ef_search`) merge under the graphs' own
    rank rule (`rank_distance`, ties by id), and the best k become a
    VALUES relation of (id, _raw, rank) that `search._score_exprs`
    scores. Spark folds the projection into a local relation, so
    collecting the result runs no job and starts no Python worker.

    Each `_raw` is a literal that reads back bit for bit, NaN and ±inf
    included. A typed NULL row after the last hit, cut by the LIMIT,
    makes id and `_raw` nullable as the executor scan's columns are, and
    keeps an empty result valid SQL."""
    from vettore_spark.functions import kernels as K
    from vettore_spark.operators import search as S

    m = K.canonical_metric(metric)
    q = np.asarray(query, dtype=np.float64)
    hits = [hit for g in graphs for hit in g.search(q, k, ef_search)]
    hits.sort(key=lambda h: (rank_distance(m, h[1]), h[0]))
    rows = [
        f"({_string_sql(eid)}, {K._double(raw)}, {n})"
        for n, (eid, raw) in enumerate(hits[:k], 1)
    ]
    rows.append("(CAST(NULL AS STRING), CAST(NULL AS DOUBLE), 0)")
    items = S._score_exprs("_raw", ["id", "rank"], metric=m, score_mode=score_mode)[1]
    return (
        f"SELECT id, score, distance, rank FROM (SELECT {', '.join(items)} "
        f"FROM VALUES {', '.join(rows)} AS t(id, _raw, rank)) LIMIT {len(rows) - 1}"
    )


def hnsw_search(
    coll: DataFrame,
    queries: list[tuple[object, list[float]]],
    *,
    metric: str = "cosine",
    k: int = 10,
    params: HnswParams | None = None,
    id_col: str = "id",
    vector_col: str = "vector",
    num_partitions: int | None = None,
    score_mode: str = "raw",
) -> DataFrame:
    """Partition-parallel HNSW batch search over the persisted graph-shard
    table (built on first use by `build_graph_shards`): answer every query
    against each shard, merge shards with a global per-query (rank, id)
    top-k. `ef_search` is the only parameter consumed at search time; all
    build-time parameters key the shared shard table."""
    from vettore_spark.functions import kernels as K

    p = params or HnswParams()
    m = K.canonical_metric(metric)
    shards = build_graph_shards(
        coll, metric=m, params=p, id_col=id_col, vector_col=vector_col,
        num_partitions=num_partitions,
    )
    return search_graph_shards(
        shards, queries, metric=m, k=k, ef_search=p.ef_search,
        id_col=id_col, id_type=coll.schema[id_col].dataType,
        score_mode=score_mode,
    )
