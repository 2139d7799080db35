"""Pluggable Store / Index behaviour protocols (SURVEY §2.1 S9).

The reference defines duck-typed module contracts for custom storage and
index backends (lib/vettore/store.ex:15-29, lib/vettore/index.ex:12-18),
used by its adversarial tests to inject faults
(test/vector_adversarial_test.exs:1-41). The Spark analog: Python protocols
over DataFrames. Built-ins:

- MemoryStore  — DataFrame held in memory (createDataFrame / union)
- ParquetStore — a parquet directory per collection (atomic dir commit)
- FlatIndex    — no index: exact scan (already parallel)
- LshIndex     — random-hyperplane buckets as a persisted candidate table
- PqIndex      — product-quantization codes as a persisted code table

A Collection keeps its resident search indexes in one registry keyed by
(KIND, *params): HnswShards, IvfFile, PqIndex and SqBounds. Every kind
answers the same calls — build from the canonical rows; `put(row)`,
`put_many(batch, rows)` and `delete(id_)` apply a committed write and
return the patched index, or None to drop it (it rebuilds at its next
search); `save`/`load` write and verify its snapshot tables.
"""

from __future__ import annotations

import copy
import os
import threading
from typing import Protocol, runtime_checkable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vettore_spark.plans.checkpoint import durable_cut


@runtime_checkable
class Store(Protocol):
    """Storage contract (lib/vettore/store.ex:15-29).

    Empty signal: a store without exists() that holds no rows must raise
    ``ValueError`` with "empty" in the message from read() — that exact
    signal (and nothing else) is what Collection.attach_store treats as
    "fresh store"; any other exception is propagated as a real failure so
    a transient read error can never be mistaken for emptiness (and the
    store then silently overwritten)."""

    def read(self, spark: SparkSession) -> DataFrame: ...

    def append(self, df: DataFrame) -> None: ...

    def overwrite(self, df: DataFrame) -> None: ...


@runtime_checkable
class Index(Protocol):
    """Index contract (lib/vettore/index.ex:12-18): candidate generation for
    a query; exact rerank happens at the operator layer."""

    def candidates(self, coll: DataFrame, query: list[float], n: int) -> DataFrame: ...


class MemoryStore:
    def __init__(self, df: DataFrame | None = None):
        self._df = df

    def read(self, spark: SparkSession) -> DataFrame:
        if self._df is None:
            raise ValueError("empty store")
        return self._df

    def append(self, df: DataFrame) -> None:
        self._df = df if self._df is None else self._df.unionByName(df)

    def overwrite(self, df: DataFrame) -> None:
        self._df = df


class ParquetStore:
    def __init__(self, path: str, compression: str = "snappy"):
        self.path = path.rstrip("/")
        self.compression = compression
        # crash recovery from an interrupted replace(): if the live dir is
        # missing but the retired copy survived, the crash happened between
        # the two renames — restore the retired copy (it IS the last
        # committed state; the half-written tmp dir is garbage).
        if not os.path.isdir(self.path) and os.path.isdir(self._old):
            os.rename(self._old, self.path)

    @property
    def _tmp(self) -> str:
        return self.path + "._replace_tmp"

    @property
    def _old(self) -> str:
        return self.path + "._replace_old"

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").option("compression", self.compression).parquet(self.path)

    def overwrite(self, df: DataFrame) -> None:
        df.write.mode("overwrite").option("compression", self.compression).parquet(self.path)

    def replace(self, df: DataFrame) -> None:
        """Atomically swap the store's contents for `df`, SAFE when df's
        lineage reads this store's own path: the new copy is fully
        written to a sibling temp directory BEFORE the live directory is
        touched, then swapped in with two renames. Unlike
        mode=overwrite (which deletes the target first and would destroy
        the only copy if an executor died mid-job), no failure point
        leaves less than one complete copy on disk. Local-FS renames; on
        an object store, point the swap at the storage layer's atomic
        rename/commit instead."""
        import shutil

        for leftover in (self._tmp, self._old):
            if os.path.isdir(leftover):
                shutil.rmtree(leftover)
        df.write.mode("overwrite").option(
            "compression", self.compression
        ).parquet(self._tmp)
        os.rename(self.path, self._old)
        os.rename(self._tmp, self.path)
        shutil.rmtree(self._old)

    def exists(self) -> bool:
        return os.path.isdir(self.path)


class FlatIndex:
    """Exact scan: every row is a candidate (the correctness oracle)."""

    def candidates(self, coll: DataFrame, query: list[float], n: int) -> DataFrame:
        return coll

    def build(self, coll: DataFrame) -> "FlatIndex":
        return self


class CellPartitionedStore:
    """Collection persisted as parquet partitioned by ANN cell — the storage
    layout that makes IVF probing a *partition-pruned scan* at 100 TB: a
    query touching n_probe of n_cells reads only those directories, and the
    pruning is visible in the plan (`PartitionFilters: [cell IN (...)]`,
    asserted in tests/test_store_pruning.py).

    Write once (cell assignment is the map-heavy step, done here), probe
    many: `probe_read` returns only the probed cells' rows with zero I/O on
    the rest."""

    def __init__(self, path: str, centroids: list[tuple[int, list[float]]]):
        self.path = path
        cents = sorted(centroids, key=lambda c: int(c[0]))
        self._cids = np.array([int(c[0]) for c in cents], dtype=np.int64)
        m = np.array([np.asarray(c[1], dtype=np.float64) for c in cents])
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        self._cmat = m / n

    def _nearest_cells_udf(self, spark: SparkSession, n: int):
        bc = spark.sparkContext.broadcast((self._cids, self._cmat))

        @F.pandas_udf("array<long>")
        def cells(vs: pd.Series) -> pd.Series:
            ids, mat = bc.value
            m = np.array([np.asarray(v, dtype=np.float64) for v in vs])
            norm = np.linalg.norm(m, axis=1, keepdims=True)
            norm[norm == 0.0] = 1.0
            d = 1.0 - (m / norm) @ mat.T
            order = np.argsort(d, axis=1, kind="stable")[:, :n]
            return pd.Series([ids[row] for row in order])

        return cells

    def write(self, coll: DataFrame, *, vector_col: str = "vector") -> None:
        spark = coll.sparkSession
        assign = self._nearest_cells_udf(spark, 1)
        out = coll.withColumn("cell", F.element_at(assign(F.col(vector_col)), 1))
        # partitionBy(cell): one directory per cell; within a cell, files
        # stay row-grouped for predicate pushdown on other columns
        out.write.mode("overwrite").partitionBy("cell").parquet(self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def probe_read(
        self, spark: SparkSession, query: list[float], *, n_probe: int = 2
    ) -> DataFrame:
        """Rows of the n_probe cells nearest to the query — a scan whose
        PartitionFilters prune every other cell's directory."""
        q = np.asarray(query, dtype=np.float64)
        qn = np.linalg.norm(q)
        if qn:
            q = q / qn
        d = 1.0 - self._cmat @ q
        probe = self._cids[np.argsort(d, kind="stable")[:n_probe]]
        return self.read(spark).filter(F.col("cell").isin(*[int(c) for c in probe]))


class LshIndex:
    """Random-hyperplane (sign) LSH over the collection's binary_vector:
    candidates share packed sign bits with low Hamming distance — reuses the
    quantized candidate generator (Q3/Q4) as a pluggable index."""

    def __init__(self, dims: int, candidates_factor: int = 10):
        self.dims = dims
        self.factor = candidates_factor

    def build(self, coll: DataFrame) -> "LshIndex":
        return self

    def candidates(self, coll: DataFrame, query: list[float], n: int) -> DataFrame:
        from vettore_spark.operators.search import _query_bits_sql, binary_topk

        qb = _query_bits_sql(query)
        cand = binary_topk(coll, qb, dims=self.dims, k=n * self.factor)
        return coll.join(F.broadcast(cand.select("id")), on="id", how="left_semi")


def _fingerprint(df: DataFrame) -> tuple[int, int]:
    """(rows, content checksum) for an index table: bit_xor of
    xxhash64 over EVERY column (order-insensitive across partitioning
    and row order — the same aggregate as the data-dir sidecar). A
    hand-replaced or corrupted index with an unchanged row count
    (edited vectors, rewired graph edges) fails this, where a
    count-only check would install it silently. Map columns hash as
    map_entries (Spark prohibits hashing maps directly; entry order is
    preserved through the parquet round-trip, so the fingerprint is
    stable between write and load)."""
    cols = [
        F.map_entries(c) if isinstance(df.schema[c].dataType, T.MapType)
        else F.col(c)
        for c in sorted(df.columns)
    ]
    row = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("ck"),
    ).collect()[0]
    # empty table: bit_xor over zero rows is NULL — pin to 0
    return row["n"], (0 if row["ck"] is None else row["ck"])


class _Resident:
    """The snapshot half of the resident-index contract. A kind names its
    registry key head and snapshot dir `index_{KIND}`; a persisted kind
    (PERSISTED) also names its config.json manifest key (MANIFEST) and its
    tables (TABLES: sub-dir, '' for the entry dir itself -> the manifest's
    rows and checksum fields), and supplies `_tables`, `_manifest` and
    `_restore`."""

    KIND: str
    MANIFEST: str
    TABLES: dict[str, tuple[str, str]] = {}

    def _tables(self) -> dict[str, DataFrame] | None:
        return None

    def _manifest(self) -> dict:
        return {}

    def save(self, spark: SparkSession, path: str) -> dict | None:
        """Write the index tables under `path` and return the manifest
        entry (rows + content fingerprint of each table), or None when
        the index persists nothing."""
        tables = self._tables()
        if tables is None:
            return None
        ent = self._manifest()
        for name, (rows_f, ck_f) in self.TABLES.items():
            sub = os.path.join(path, name) if name else path
            tables[name].write.mode("overwrite").parquet(sub)
            # fingerprint the parquet JUST WRITTEN (not the in-memory
            # plan): one cheap scan instead of a second full index-plan
            # job, and the checksum matches the bytes on disk by
            # construction — a lineage recompute between write and
            # fingerprint can never poison the manifest into permanently
            # rejecting its own files
            ent[rows_f], ent[ck_f] = _fingerprint(spark.read.parquet(sub))
        return ent

    @classmethod
    def load(cls, spark: SparkSession, path: str, ent: dict, rows: DataFrame):
        """Read the index tables under `path`, verifying each against the
        manifest entry (the data-dir checksum does not cover index dirs);
        None when any table fails, so a tampered index is never
        installed. `rows` are the collection's loaded rows."""
        tables = {}
        for name, (rows_f, ck_f) in cls.TABLES.items():
            df = spark.read.parquet(os.path.join(path, name) if name else path)
            n, ck = _fingerprint(df)
            if ent.get(rows_f) not in (None, n) or ent.get(ck_f) not in (None, ck):
                return None
            tables[name] = df
        return cls._restore(tables, ent, rows)


class PqIndex(_Resident):
    """Product-quantization index backend (Index protocol): `build` trains
    deterministic codebooks on a driver-collected sample (sorted by id —
    reproducible) and encodes the collection into a persisted code table,
    which carries each row's columns beside its `codes`; `candidates`
    ADC-scans the compressed domain for the top n*factor ids and
    semi-joins them back (exact rerank happens at the operator layer,
    same two-stage contract as LshIndex).

    As a Collection resident index it is built with `candidates_factor=1`
    and searched with the full fetch depth, so a search never writes
    index state: one request is one scan of the code table, whose
    candidates bring their vectors and `where` columns into the exact
    rerank (`proxy_sql`, search.two_stage_sql). put returns a copy with
    the stored row appended, put_many drops it, delete returns a copy
    with the row tombstoned, and a snapshot persists the codebooks
    (manifest) and the (id, codes) table; a load re-attaches the rows."""

    KIND = "pq"
    MANIFEST = "_pq_indexes"
    TABLES = {"": ("codes_rows", "codes_checksum")}

    def __init__(
        self,
        *,
        m: int = 8,
        n_codes: int = 16,
        iters: int = 5,
        candidates_factor: int = 10,
        sample_rows: int = 10_000,
    ):
        self.m = m
        self.n_codes = n_codes
        self.iters = iters
        self.factor = candidates_factor
        self.sample_rows = sample_rows
        self._books = None
        self._codes = None
        self._insert_depth = 0

    def build(self, coll: DataFrame) -> "PqIndex":
        import numpy as np

        from vettore_spark.operators import pq as PQ
        from vettore_spark.plans.cache import cached_persist

        from vettore_spark.operators.sampling import _bucket_hex

        # deterministic UNIFORM training sample: rank by the md5 draw of the
        # id (not an id-prefix, which biases codebooks whenever ids correlate
        # with content), tie-broken by id for full reproducibility
        rows = (
            coll.select("id", "vector")
            .orderBy(_bucket_hex(F.col("id"), "pq_train"), F.col("id"))
            .limit(self.sample_rows)
            .collect()
        )
        sample = np.array([r["vector"] for r in rows], dtype=np.float64)
        if len(sample) == 0:
            return self  # empty collection: candidates() falls back to exact
        # tiny collections: fewer rows than requested centroids — clamp so
        # k-means trains instead of raising
        n_codes = min(self.n_codes, len(sample))
        self._books = PQ.pq_train_kmeans(
            sample, m=self.m, n_codes=n_codes, iters=self.iters
        )
        # registry-managed persist (LRU + explicit unpersist)
        books = self._books
        self._codes = cached_persist(
            coll,
            ("pq_rows", "id", "vector", hash(books.tobytes())),
            lambda s: PQ.pq_encode(
                s, books, id_col="id", vector_col="vector", cols=s.columns
            ),
        )
        return self

    def insert(self, id_, vector, extras: dict | None = None) -> "PqIndex":
        """Incremental index INSERT: encode the ONE new vector with the
        RESIDENT codebooks (driver-side `_encode_batch` on a 1-row matrix
        — bit-identical to the build path's Arrow encoder) and return a
        copy whose code table has the row appended, its other columns
        from `extras` (NULL when absent); this index is left as it was,
        so a search holding it never sees a half-patched one. No
        re-train — the standard PQ maintenance contract (codebook
        distortion grows slowly; periodic re-train, immediate code
        append), mirroring `ann.ivf_insert` and the HNSW one-shard patch."""
        if self._books is None or self._codes is None:
            return self  # nothing resident: next build() encodes everything
        import numpy as np

        from vettore_spark.operators.pq import _encode_batch
        from vettore_spark.plans.spread import row_like

        code = _encode_batch(
            np.asarray([list(vector)], dtype=np.float64), self._books
        )[0]
        codes = self._codes.unionByName(row_like(self._codes, {
            **(extras or {}), "id": id_,
            "vector": [float(x) for x in vector], "codes": [int(c) for c in code],
        }))
        # lineage ladder (put_many's pattern): N raw single-row unions
        # would build an N-deep tree that every ADC scan re-analyzes —
        # cut every 8 appends via the durability-aware helper
        depth = self._insert_depth + 1
        if depth >= 8:
            codes, depth = durable_cut(codes, eager=False), 0
        return self._patched(codes, depth)

    def delete(self, id_) -> "PqIndex":
        """Incremental index DELETE: a copy with the row tombstoned in the
        code table (codebooks untouched — the `ivf_delete` mirror)."""
        if self._codes is None:
            return self
        return self._patched(
            self._codes.filter(F.col("id") != F.lit(id_)), self._insert_depth
        )

    def _patched(self, codes: DataFrame, depth: int) -> "PqIndex":
        out = copy.copy(self)
        out._codes, out._insert_depth = codes, depth
        return out

    def put(self, row: dict) -> "PqIndex":
        """A committed one-row put: append the stored row (insert)."""
        return self.insert(row["id"], row["vector"], row)

    def put_many(self, batch: DataFrame, rows) -> None:
        """A committed batch drops the index (re-trained at next search)."""
        return None

    def _tables(self) -> dict[str, DataFrame] | None:
        if self._books is None or self._codes is None:
            return None
        return {"": self._codes.select("id", "codes")}

    def _manifest(self) -> dict:
        return {"books": self._books.tolist()}

    @classmethod
    def _restore(cls, tables: dict, ent: dict, rows: DataFrame) -> "PqIndex":
        """The snapshot holds (id, codes): the loaded rows' columns are
        joined back on by id, and the table is cut at its first read."""
        m, n_codes, iters = ent["key"]
        idx = cls(m=m, n_codes=n_codes, iters=iters, candidates_factor=1)
        idx._books = np.asarray(ent["books"], dtype=np.float64)
        idx._codes = durable_cut(rows.join(tables[""], "id"), eager=False)
        return idx

    def proxy_sql(self, query: list[float]) -> str:
        """The ADC rank key of `query` as SQL text over the code table's
        `codes` (the `two_stage_sql` proxy of a Collection request)."""
        from vettore_spark.operators import pq as PQ

        return PQ.adc_key_sql(
            PQ._adc_luts(np.asarray([query], dtype=np.float64), self._books)[0]
        )

    def candidates(self, coll: DataFrame, query: list[float], n: int) -> DataFrame:
        if self._books is None:
            self.build(coll)
        if self._books is None:  # empty collection at build time: exact scan
            return coll
        from vettore_spark.operators import pq as PQ
        from vettore_spark.operators.search import single_query_frame

        queries = single_query_frame(coll.sparkSession, query, "q")
        cand = PQ.pq_adc_topk(
            self._codes, queries, self._books, k=n * self.factor, id_col="id"
        )
        return coll.join(F.broadcast(cand.select("id")), on="id", how="left_semi")


class HnswShards(_Resident):
    """Resident HNSW index: the graph-shard table (one pickled graph per
    shard) plus its shard-id list and blob bytes, collected once at build
    so that put-time routing runs no Spark job. Every write patches it —
    put and put_many insert each row into its routed shard's graph,
    delete strips the id from its shard — in one pass that keeps the
    table's partition count, and each patched table takes the durability
    ladder (plans/checkpoint.py), not a raw localCheckpoint, so a lost
    executor cannot orphan it. A snapshot persists the table.

    Two serving tiers. While the blobs stay within
    `hnsw._HNSW_DRIVER_MAX_BYTES`, `graphs()` also holds the graphs
    unpickled on the driver, from one collect at this instance's first
    read, and a single query is answered there. Past the bound it returns
    None and every request runs on the executors. A write replaces the
    instance, so driver graphs are never patched: the table stays the one
    write path and snapshot format, and the next read collects again."""

    KIND = "hnsw"
    MANIFEST = "_hnsw_indexes"
    TABLES = {"": ("rows", "checksum")}

    def __init__(self, shards: DataFrame, shard_ids: list[int],
                 nbytes: int | None = None):
        # nbytes: the blobs' total when a collect has read it, else None
        self.shards, self.shard_ids, self.nbytes = shards, shard_ids, nbytes
        self._graphs_lock = threading.Lock()
        self._graphs: list | None = None
        self._loaded = False

    @classmethod
    def build(cls, rows: DataFrame, *, metric: str, params,
              num_partitions: int) -> "HnswShards":
        from vettore_spark.operators import hnsw as H

        shards = H.build_graph_shards(
            rows.select("id", "vector"), metric=metric, params=params,
            id_col="id", vector_col="vector", num_partitions=num_partitions,
        )
        sizes = shards.selectExpr("shard_id", "octet_length(shard) AS n").collect()
        return cls(shards, [r["shard_id"] for r in sizes], sum(r["n"] for r in sizes))

    def graphs(self) -> list | None:
        """The shard graphs held on the driver, or None past the bound.
        The first call collects them unless the table is known past the
        bound. No blob past the bound's per-shard share leaves the
        executors, so the collect never exceeds the bound, even for a
        table of unknown size (patched or loaded)."""
        from vettore_spark.operators import hnsw as H

        with self._graphs_lock:
            bound = H._HNSW_DRIVER_MAX_BYTES
            if not self._loaded and (self.nbytes or 0) <= bound:
                self.nbytes, self._graphs = H.collect_graph_shards(
                    self.shards, bound // max(1, len(self.shard_ids))
                )
            self._loaded = True
            return self._graphs

    def _patched(self, shards: DataFrame) -> "HnswShards":
        from vettore_spark.operators import hnsw as H

        # a write keeps or grows every blob (a delete keeps the node's
        # vector), so a table known past the bound stays past it
        over = self.nbytes is not None and self.nbytes > H._HNSW_DRIVER_MAX_BYTES
        return HnswShards(
            durable_cut(shards, eager=False), self.shard_ids,
            self.nbytes if over else None,
        )

    def _insert(self, rows: list[dict]) -> "HnswShards":
        """Insert stored rows, routed in the task closure (one narrow map,
        no job). `shard_ids` is the table's exact list — collected at
        build or saved with the snapshot, and every patch keeps the shard
        rows — so the public function's stale-list check is skipped."""
        from vettore_spark.operators import hnsw as H

        return self._patched(H._insert_rows(
            self.shards, [(r["id"], r["vector"]) for r in rows], self.shard_ids
        ))

    def put(self, row: dict) -> "HnswShards":
        return self._insert([row])

    def put_many(self, batch: DataFrame, rows) -> "HnswShards":
        """`rows()` gives the stored rows of a driver-small list batch; a
        batch without them (a DataFrame, or a list past the closure cap)
        is routed executor-side and patched in one cogroup job. Either
        way the graphs see the stored (normalized, f32-rounded) vectors,
        exactly what a rebuild over the grown table would."""
        from vettore_spark.operators import hnsw as H

        if rows is not None:
            return self._insert(rows())
        return self._patched(H.insert_df_into_graph_shards(
            self.shards, batch, shard_ids=self.shard_ids,
            id_col="id", vector_col="vector",
        ))

    def delete(self, id_) -> "HnswShards":
        from vettore_spark.operators import hnsw as H

        return self._patched(H.delete_from_graph_shards(self.shards, id_))

    def _tables(self) -> dict[str, DataFrame]:
        return {"": self.shards}

    def _manifest(self) -> dict:
        return {"shard_ids": self.shard_ids}

    @classmethod
    def _restore(cls, tables: dict, ent: dict, rows: DataFrame) -> "HnswShards":
        return cls(tables[""], list(ent["shard_ids"]))


class IvfFile(_Resident):
    """Resident IVF index: the centroids (distributed MLlib KMeans, fixed
    seed) and the inverted file, every row tagged with its cell and
    carrying its payload columns (ivf_search(where=) filters them). put
    appends one row (ann.ivf_insert) and delete tombstones one
    (ann.ivf_delete), both with the codebook untouched and the patched
    file lineage-cut; put_many drops the index, since a batch may warrant
    a new codebook. A snapshot persists both tables."""

    KIND = "ivf"
    MANIFEST = "_ivf_indexes"
    TABLES = {
        "centroids": ("centroid_rows", "centroid_checksum"),
        "assigned": ("assigned_rows", "assigned_checksum"),
    }
    _PAYLOAD = ("value", "vectors", "binary_vector", "metadata")

    def __init__(self, centroids: DataFrame, assigned: DataFrame, codebook=None):
        from vettore_spark.operators import ann as ANN

        self.centroids, self.assigned = centroids, assigned
        # the driver-side codebook (sorted cell ids, L2-normalized matrix)
        # a single-query search picks its cells from (ann.ivf_probe_cells)
        self.cids, self.cmat = codebook or ANN._ivf_centroids_cached(
            centroids.sparkSession, centroids, "centroid_id", "centroid"
        )[:2]

    @classmethod
    def build(cls, rows: DataFrame, *, n_cells: int) -> "IvfFile":
        from vettore_spark.operators import ann as ANN
        from vettore_spark.operators import mllib_lsh

        cents = mllib_lsh.kmeans_centroids(rows, k=n_cells, vector_col="vector")
        return cls(cents, ANN.ivf_assign(
            rows, centroids=cents, id_col="id", vector_col="vector"
        ))

    def _patched(self, assigned: DataFrame) -> "IvfFile":
        return IvfFile(
            self.centroids, durable_cut(assigned, eager=False), (self.cids, self.cmat)
        )

    def put(self, row: dict) -> "IvfFile":
        from vettore_spark.operators import ann as ANN

        return self._patched(ANN.ivf_insert(
            self.assigned, row["id"], row["vector"], centroids=self.centroids,
            id_col="id", vector_col="vector",
            extras={k: row[k] for k in self._PAYLOAD},
        ))

    def put_many(self, batch: DataFrame, rows) -> None:
        return None

    def delete(self, id_) -> "IvfFile":
        from vettore_spark.operators import ann as ANN

        return self._patched(ANN.ivf_delete(self.assigned, id_, id_col="id"))

    def _tables(self) -> dict[str, DataFrame]:
        return {"centroids": self.centroids, "assigned": self.assigned}

    @classmethod
    def _restore(cls, tables: dict, ent: dict, rows: DataFrame) -> "IvfFile":
        return cls(tables["centroids"], tables["assigned"])


class SqBounds(_Resident):
    """Resident SQ8 quantizer: per-dimension (min, max) trained on the
    canonical rows, and the persisted code table of the rows it last
    served. put and delete keep it (its code table re-derives over the
    new rows) — bounds trained on a superset
    stay valid for any subset, and a new out-of-range value clips in the
    candidate stage only (the exact rerank re-orders on true vectors) —
    while put_many drops it. Not persisted: it retrains at the first
    sq_search after a load."""

    KIND = "sq"

    def __init__(self, mins: list[float], maxs: list[float]):
        self.mins, self.maxs = mins, maxs
        self._codes = (None, None)  # (rows, their code table)
        self._lock = threading.Lock()

    @classmethod
    def build(cls, rows: DataFrame) -> "SqBounds":
        from vettore_spark.operators import sq as SQ

        return cls(*SQ.sq_train(rows, vector_col="vector"))

    def codes(self, rows: DataFrame) -> DataFrame:
        """The code table of `rows` (sq.sq_codes: the rows with their
        `_codes`), persisted at the first search over each version of the
        rows (every write rebinds them). The table it replaces is
        unpersisted, so one stays cached per index; a request still
        holding the old one recomputes it, with the same rows."""
        from vettore_spark.operators import sq as SQ

        with self._lock:
            held, table = self._codes
            if held is not rows:
                self._codes = (rows, SQ.sq_codes(rows, self.mins, self.maxs).persist())
                if table is not None:
                    table.unpersist()
            return self._codes[1]

    def put(self, row: dict) -> "SqBounds":
        return self

    def put_many(self, batch: DataFrame, rows) -> None:
        return None

    def delete(self, id_) -> "SqBounds":
        return self


# the kinds a snapshot persists (load_snapshot reads their manifests)
PERSISTED = (HnswShards, IvfFile, PqIndex)


class _pinned_range_sample:
    """Pin a large range-partitioner sample for the duration of a
    clustering WRITE (boundaries from the default per-partition sample
    wobble run-to-run because the sample seed varies with the RDD id; a
    layout write wants stable, near-exact quantile boundaries and its
    cost dwarfs the sampling)."""

    _KEY = "spark.sql.execution.rangeExchange.sampleSizePerPartition"

    def __init__(self, spark):
        self._spark = spark

    def __enter__(self):
        self._prev = self._spark.conf.get(self._KEY, None)
        self._spark.conf.set(self._KEY, "5000")

    def __exit__(self, *exc):
        if self._prev is None:
            self._spark.conf.unset(self._KEY)
        else:
            self._spark.conf.set(self._KEY, self._prev)
        return False


def range_sorted_write(
    df: DataFrame,
    path: str,
    *,
    sort_col: str,
    num_files: int | None = None,
    compression: str = "zstd",
) -> None:
    """Range-partition on `sort_col` and sort within partitions before
    writing parquet: every output file covers a DISJOINT value range, so
    parquet min/max footer statistics let any range predicate skip whole
    files (and row groups within them) at scan time — the clustered layout
    for time- or key-range query patterns at 100 TB. One exchange (range
    partitioner with sampled bounds); `num_files` controls layout
    granularity (default: session shuffle parallelism).

    The complement to `bucketed_write` (equality-join locality): this is
    RANGE locality. tests/test_store_pruning.py asserts the per-file
    min/max disjointness from the parquet footers."""
    spark = df.sparkSession
    n = num_files or int(spark.conf.get("spark.sql.shuffle.partitions", "32") or 32)
    with _pinned_range_sample(spark):
        (
            df.repartitionByRange(n, F.col(sort_col))
            .sortWithinPartitions(sort_col)
            .write.mode("overwrite")
            .option("compression", compression)
            .parquet(path)
        )


def bucketed_write(
    df: DataFrame,
    table: str,
    *,
    bucket_col: str,
    n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table: two
    tables bucketed by their join key with the same bucket count join with
    NO exchange on either side — the co-located-join layout for repeated
    big-big joins at 100 TB (tests/test_bucketing.py asserts the shuffle-free
    plan). Requires saveAsTable (bucketing metadata lives in the catalog)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


def zorder_key(
    cols: list[str],
    bounds: list[tuple[int, int]],
    *,
    bits: int = 8,
) -> F.Column:
    """Z-order (Morton) key column: each input column is scaled to a
    `bits`-bit integer rank inside its [min, max] bounds with exact
    integer arithmetic, then the ranks' bits are interleaved LSB-first
    (col i owns bit positions i, i+n, i+2n, ...). Sorting by this key
    clusters rows so that EVERY participating column's value range is
    narrow within any contiguous run — which is what lets parquet min/max
    footer statistics skip files/row groups for multi-column box
    predicates, where a single-column sort only ever prunes on its lead
    column (the Delta/Iceberg OPTIMIZE ZORDER layout, built here from
    plain shiftleft/and/or expressions that stay in whole-stage codegen).

    Pure integer arithmetic: ranks are ((x - lo) * (2^bits - 1)) div
    (hi - lo), so the key is engine-reproducible (SQL twin: the same
    expression with // and %). Values outside bounds are clamped. Total
    key width bits * len(cols) must fit a signed long (<= 62)."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs >= 2 columns (use a plain sort for 1)")
    if len(bounds) != n:
        raise ValueError("bounds must match cols")
    if bits * n > 62:
        raise ValueError("bits * len(cols) must be <= 62")
    top = (1 << bits) - 1
    ranks = []
    for c, (lo, hi) in zip(cols, bounds):
        lo, hi = int(lo), int(hi)
        if hi <= lo:
            raise ValueError(f"degenerate bounds for {c}: [{lo}, {hi}]")
        # integer `div` keeps the rank exact and engine-reproducible
        # (the SQL twin uses // on the same longs)
        ranks.append(
            F.expr(
                f"((greatest(least(cast(`{c}` as bigint), {hi}L), {lo}L)"
                f" - {lo}L) * {top}L) div {hi - lo}L"
            )
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, r in enumerate(ranks):
            bit = F.shiftright(r, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    *,
    cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
    compression: str = "zstd",
) -> None:
    """Write parquet clustered by the Z-order of `cols`: bounds come from
    ONE tiny min/max aggregate (2*len(cols) longs to the driver), rows are
    range-partitioned and sorted by the interleaved key, and the key
    itself is dropped before writing. Every file then covers a compact
    box in the multi-column space, so min/max footer stats prune
    files/row groups for box predicates on ANY participating column —
    measured skip ratios in SCALE.md; the multi-column complement to
    `range_sorted_write`."""
    spark = df.sparkSession
    row = df.agg(
        *[f(c).cast("long").alias(f"{n}_{c}")
          for c in cols for n, f in (("lo", F.min), ("hi", F.max))]
    ).first()
    bounds = [(row[f"lo_{c}"], row[f"hi_{c}"]) for c in cols]
    n = num_files or int(spark.conf.get("spark.sql.shuffle.partitions", "32") or 32)
    with _pinned_range_sample(spark):
        (
            df.withColumn("_z", zorder_key(cols, bounds, bits=bits))
            .repartitionByRange(n, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .option("compression", compression)
            .parquet(path)
        )
