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
"""

from __future__ import annotations

import os
from typing import Protocol, runtime_checkable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


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
        from vettore_spark.operators.search import _pack_query_bits, binary_topk

        qb = _pack_query_bits(query)
        cand = binary_topk(coll, qb, dims=self.dims, k=n * self.factor)
        return coll.join(F.broadcast(cand.select("id")), on="id", how="left_semi")


class PqIndex:
    """Product-quantization index backend (Index protocol): `build` trains
    deterministic codebooks on a driver-collected sample (sorted by id —
    reproducible) and encodes the collection into a persisted code table;
    `candidates` ADC-scans the compressed domain for the top n*factor ids
    and semi-joins them back (exact rerank happens at the operator layer,
    same two-stage contract as LshIndex)."""

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
        # registry-managed persist (LRU + explicit unpersist), keyed the same
        # way as pq_search's code table so the two share one materialization
        books = self._books
        self._codes = cached_persist(
            coll,
            ("pq_codes", "id", "vector", "l2", hash(books.tobytes())),
            lambda s: PQ.pq_encode(s, books, id_col="id", vector_col="vector"),
        )
        return self

    def insert(self, id_, vector) -> "PqIndex":
        """Incremental index INSERT: encode the ONE new vector with the
        RESIDENT codebooks (driver-side `_encode_batch` on a 1-row matrix
        — bit-identical to the build path's Arrow encoder) and append a
        single row to the persisted code table. No re-train — the standard
        PQ maintenance contract (codebook distortion grows slowly;
        periodic re-train, immediate code append), mirroring
        `ann.ivf_insert` and the HNSW one-shard patch. Callers patching a
        long-lived resident index should lineage-cut `self._codes`
        periodically (plans/checkpoint.py::durable_cut)."""
        if self._books is None or self._codes is None:
            return self  # nothing resident: next build() encodes everything
        import numpy as np

        from vettore_spark.operators.pq import _encode_batch

        spark = self._codes.sparkSession
        code = _encode_batch(
            np.asarray([list(vector)], dtype=np.float64), self._books
        )[0]
        row = spark.createDataFrame(
            [(id_, [int(c) for c in code])],
            T.StructType(
                [
                    T.StructField("id", self._codes.schema["id"].dataType),
                    T.StructField("_c", T.ArrayType(T.IntegerType())),
                ]
            ),
        ).select(
            "id",
            F.col("_c").cast(self._codes.schema["codes"].dataType).alias("codes"),
        )
        self._codes = self._codes.unionByName(row)
        # lineage ladder (put_many's pattern): N raw single-row unions
        # would build an N-deep tree that every ADC scan re-analyzes —
        # cut every 8 appends via the durability-aware helper
        depth = getattr(self, "_insert_depth", 0) + 1
        if depth >= 8:
            from vettore_spark.plans.checkpoint import durable_cut

            self._codes = durable_cut(self._codes, eager=False)
            depth = 0
        self._insert_depth = depth
        return self

    def delete(self, id_) -> "PqIndex":
        """Incremental index DELETE: tombstone the row in the code table
        (codebooks untouched — the `ivf_delete` mirror)."""
        if self._codes is not None:
            self._codes = self._codes.filter(F.col("id") != F.lit(id_))
        return self

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
