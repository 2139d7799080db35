"""Collection: a schema-enforced vector table + config, the Spark analog of
the reference's ETS-backed collection (lib/vettore/collection.ex).

Mapping (SURVEY §1.5): a collection is a DataFrame with the canonical
embedding schema plus a config sidecar; `snapshot`/`load_snapshot` persist it
as a parquet directory + config JSON. Writes are whole-batch atomic
(duplicate-id rejection via anti-join replaces the reference's
rollback dance, collection.ex:459-502 — a single atomic append needs no
compensation).

Validation parity:
- dims/metric/normalize/score validation ... collection.ex:75-132
- id/value fallback ........................ collection.ex:1069-1075, store/ets.ex:238-244
- dense-vector validation .................. collection.ex:1085-1095, 1264-1270
- mean-of-multivectors derivation .......... collection.ex:994-1017
- insert-time normalization ................ collection.ex:351-357, 1317-1319
- sign-bit packing at ingest ............... collection.ex:920-946
- duplicate ids rejected ................... store/ets.ex:264-271
- load_snapshot override rules ............. collection.ex:1159-1203
"""

from __future__ import annotations

import json
import os
import warnings
from dataclasses import dataclass, field, asdict
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vettore_spark.functions import kernels as K
from vettore_spark.plans.checkpoint import durable_cut, resident_cut, single_jvm

EMBEDDING_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("vector", T.ArrayType(T.FloatType()), True),
        T.StructField("vectors", T.ArrayType(T.ArrayType(T.FloatType())), True),
        T.StructField("binary_vector", T.ArrayType(T.LongType()), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# put_many's staging schema: a list batch is read with it, and a DataFrame
# batch gets each absent column as a typed null of it
_INGEST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("vector", T.ArrayType(T.DoubleType()), True),
        T.StructField("vectors", T.ArrayType(T.ArrayType(T.DoubleType())), True),
        T.StructField("binary_vector", T.ArrayType(T.LongType()), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def _empty_rows(spark: SparkSession) -> DataFrame:
    """Zero-row EMBEDDING_SCHEMA frame as a JVM local relation, which the
    optimizer prunes from every union. (`createDataFrame([], schema)` is a
    scan over empty Python slices: one task per slice on every action.)"""
    jspark = spark._jsparkSession
    jdf = jspark.createDataFrame(
        spark._jvm.java.util.ArrayList(),
        jspark.parseDataType(EMBEDDING_SCHEMA.json()),
    )
    return DataFrame(jdf, spark)


# load_snapshot may override only these keys (collection.ex:1159-1174);
# structural keys (dimensions, metric, normalize, compressed) are rejected.
_OVERRIDABLE = {"name", "index", "index_options", "score"}
_STRUCTURAL = {"dimensions", "metric", "normalize", "compressed"}

# put_many batches up to this size patch the resident HNSW shards via a
# broadcast task closure (one narrow map job); larger batches take the
# cogroup DataFrame path. Module-level so tests can exercise the DF path
# without materializing a >10k-row batch.
_HNSW_CLOSURE_BATCH_CAP = 10_000


@dataclass
class CollectionConfig:
    name: str
    dimensions: int
    metric: str = "cosine"
    normalize: str | None = None  # none|l2|zscore|minmax; default per metric
    score: str = "raw"  # raw|similarity
    index: str = "flat"  # flat|lsh (hnsw alias -> lsh batch ANN)
    index_options: dict = field(default_factory=dict)
    compressed: bool = False

    def __post_init__(self):
        if not self.name or not isinstance(self.name, str):
            raise ValueError("collection name must be a non-empty string")
        if not isinstance(self.dimensions, int) or self.dimensions <= 0:
            raise ValueError("dimensions must be a positive integer")
        self.metric = K.canonical_metric(self.metric)
        if self.normalize is None:
            self.normalize = K.default_normalize(self.metric)
        if self.normalize not in K.NORMALIZE_MODES:
            raise ValueError(f"unknown normalize mode: {self.normalize!r}")
        if self.score not in ("raw", "similarity"):
            raise ValueError(f"unknown score mode: {self.score!r}")
        if self.index not in ("flat", "lsh", "hnsw"):
            raise ValueError(f"unknown index: {self.index!r}")


class Collection:
    """A named vector collection over a DataFrame with enforced schema."""

    def __init__(self, spark: SparkSession, config: CollectionConfig, df: DataFrame | None = None):
        self.spark = spark
        self.config = config
        self._df = df if df is not None else _empty_rows(spark)
        self._closed = False
        # driver-side emptiness hint: lets put_many skip the duplicate-id
        # join against a known-empty store without running an isEmpty job.
        # Conservative (True = "may have rows") whenever constructed over an
        # external DataFrame; the join against an actually-empty side is
        # still correct, just one superfluous scan.
        self._maybe_nonempty = df is not None
        # optional parquet-backed canonical table (attach_store): when set,
        # ingest appends STORAGE and re-reads, so the plan over the
        # canonical rows is always one parquet scan — no union tree, no
        # checkpoint dependency (the durable shape for long-lived
        # collections on a cluster without a checkpoint dir)
        self._store = None
        self._store_deleted: list[str] = []
        # O(1) row count (the reference's ETS table size, store/ets.ex
        # info): maintained exactly through put/put_many (+= validated
        # batch size), invalidated (None) by mutations whose delta is
        # unknown without a scan (delete of a possibly-absent id,
        # adopting a store); count() recomputes lazily and re-caches.
        # At 100 TB this turns the most common monitoring call from a
        # full scan into a driver lookup.
        self._row_count: int | None = 0 if df is None else None

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, name: str, dimensions: int, **opts: Any) -> "Collection":
        return cls(spark, CollectionConfig(name=name, dimensions=dimensions, **opts))

    def close(self) -> None:
        """Idempotent close; post-close ops raise (collection.ex:366-374).
        Releases the batches put_many persisted (resident_cut on a cluster
        without a checkpoint dir)."""
        self._closed = True
        for batch in self.__dict__.pop("_persisted_batches", ()):
            batch.unpersist()

    def attach_store(self, store_or_path) -> "Collection":
        """Route the CANONICAL rows through a parquet-backed store
        (sources.store.ParquetStore or a path): every put/put_many appends
        the validated batch to storage and re-reads, so the collection's
        plan is always a single parquet scan regardless of how many
        batches were ingested — the durable alternative to lineage cuts
        for long-lived collections on clusters WITHOUT a checkpoint dir
        (where localCheckpoint would turn one lost executor into
        permanent canonical-row loss, and an uncut union tree grows the
        plan per batch).

        Deletes are tracked as a driver-side id overlay (applied as an
        anti-filter over the scan) so a later re-read cannot resurrect
        them; call compact_store() to fold the overlay into storage.
        Attaching a store that already holds rows adopts them (the ingest
        restart path); attaching over a non-empty in-memory collection
        persists the current rows first."""
        from vettore_spark.sources.store import ParquetStore

        self._check_open()
        store = (
            ParquetStore(store_or_path)
            if isinstance(store_or_path, str)
            else store_or_path
        )
        # A store may or may not implement exists() (the Store protocol
        # doesn't require it). When it does, trust it; when it doesn't,
        # probe with read() and treat ONLY the protocol's documented
        # empty signal — a ValueError mentioning "empty" (see
        # sources/store.py Store.read) — as "fresh store", the default
        # that makes a brand-new MemoryStore adoptable. Any other read
        # failure (permissions, connectivity, corruption) re-raises:
        # falling through to the non-empty branch below would call
        # store.overwrite(self._df) and clobber the store's real rows.
        exists_fn = getattr(store, "exists", None)
        existing = None
        if exists_fn is None or exists_fn():
            try:
                existing = store.read(self.spark)
            except ValueError as e:
                if exists_fn is not None or "empty" not in str(e).lower():
                    # the store CLAIMED to hold rows, or the failure is
                    # not the documented empty signal: a real error
                    raise
        if existing is not None:
            if self._maybe_nonempty:
                raise ValueError(
                    "attach_store: both the collection and the store hold "
                    "rows; start from an empty collection to adopt a store"
                )
            self._df = existing
            self._maybe_nonempty = True
            self._row_count = None  # adopted rows: size unknown until read
        elif self._maybe_nonempty:
            store.overwrite(self._df)
            self._df = store.read(self.spark)
        self._store = store
        self._store_deleted = []
        # the memoized tombstone table is keyed by overlay LENGTH; resetting
        # the overlay without dropping it would let a future overlay that
        # regrows to the cached length serve the OLD id set
        self.__dict__.pop("_tomb_df_cache", None)
        self._invalidate_derived()
        return self

    def _canonical_read(self) -> DataFrame:
        df = self._store.read(self.spark)
        if self._store_deleted:
            df = self._without_tombstoned(df)
        return df

    # past this many overlay tombstones, isin()'s literal list stops being
    # a filter expression and starts being a plan-size problem (a million
    # deletes would inline a million literals into every scan); switch to
    # a broadcast anti-join against a driver-built id table instead
    _TOMBSTONE_ISIN_MAX = 1000

    def _tombstone_df(self) -> DataFrame:
        """Driver-built table of the overlay ids, memoized until the
        overlay changes (it only grows between compactions, so its length
        is a valid version tag) — a 500k-id overlay must not be
        re-serialized on every read/put."""
        cached = self.__dict__.get("_tomb_df_cache")
        if cached is not None and cached[0] == len(self._store_deleted):
            return cached[1]
        tomb = self.spark.createDataFrame(
            [(str(i),) for i in self._store_deleted], "id string"
        )
        self.__dict__["_tomb_df_cache"] = (len(self._store_deleted), tomb)
        return tomb

    def _without_tombstoned(self, df: DataFrame) -> DataFrame:
        """Apply the delete overlay: literal isin for small overlays (the
        common case between compactions — pushable to the parquet scan),
        broadcast LEFT ANTI join once the overlay outgrows what a literal
        expression should carry."""
        if len(self._store_deleted) <= self._TOMBSTONE_ISIN_MAX:
            return df.filter(~F.col("id").isin(self._store_deleted))
        return df.join(F.broadcast(self._tombstone_df()), "id", "left_anti")

    def compact_store(self) -> "Collection":
        """Fold the delete overlay into storage and clear it. Stores with
        a `replace` method (ParquetStore) get the crash-safe path: the
        compacted copy is fully committed to a sibling directory before
        the live one is swapped out, so no failure point — including an
        executor loss mid-write — leaves less than one complete copy.
        Stores without `replace` fall back to persist-then-overwrite,
        which only guards the self-overwrite hazard with in-memory
        blocks (a lost executor mid-overwrite can lose them)."""
        self._check_open()
        if self._store is None:
            raise ValueError("no store attached")
        if not self._store_deleted:
            return self
        replace = getattr(self._store, "replace", None)
        if replace is not None:
            replace(self._canonical_read())
        else:
            snap = self._canonical_read().persist()
            snap.count()  # materialize before the target files are deleted
            self._store.overwrite(snap)
            snap.unpersist()
        self._store_deleted = []
        self.__dict__.pop("_tomb_df_cache", None)  # length-keyed memo: see attach
        self._df = self._canonical_read()
        # the swap DELETED the old parquet files: resident index state
        # (patched HNSW shards, IVF inverted file, PQ codes) and module
        # persist-cache entries hold LINEAGE over those paths — logically
        # still correct, but any recompute (LRU eviction, executor loss,
        # lazy durable_cut not yet materialized) would read deleted files
        # and die with FileNotFoundException. Invalidate; indexes rebuild
        # lazily from the compacted canonical rows.
        self._invalidate_derived()
        return self

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError("collection is closed")

    @property
    def df(self) -> DataFrame:
        self._check_open()
        return self._df

    # -- ingest (S2) --------------------------------------------------------

    def put_many(self, rows: Iterable[dict] | DataFrame) -> "Collection":
        """Validated batch insert (collection.ex:167-191, 920-961); the
        committed batch is materialized at its first read, and later
        searches read the stored rows.

        Pipeline: resolve id<->value fallback, validate+normalize `vectors`,
        derive the primary vector as the normalized mean when absent,
        validate+normalize `vector`, pack binary sign bits, reject duplicate
        ids (intra-batch and vs existing) — then one atomic union.

        A DataFrame batch needs `id` (or `value`) and `vector` (or
        `vectors`); each other EMBEDDING_SCHEMA column it lacks is a null.

        Resident rows (the reference's resident store, store/ets.ex:62-68):
        the batch's lineage is cut lazily (plans.checkpoint.resident_cut),
        so put_many runs no extra job, and the first action that reads the
        batch stores it; later searches never re-run this staging plan.
        The cut is a reliable checkpoint when the session has a checkpoint
        dir, a local checkpoint on a local master, and a persist on a
        cluster without one."""
        self._check_open()
        cfg = self.config
        dims = cfg.dimensions

        batch_rows: list[dict] | None = None
        if isinstance(rows, DataFrame):
            incoming = rows.withColumns(
                {
                    f.name: F.lit(None).cast(f.dataType)
                    for f in _INGEST_SCHEMA
                    if f.name not in rows.columns
                }
            )
        else:
            rows = list(rows)
            batch_rows = rows
            data = []
            for r in rows:
                data.append(
                    (
                        r.get("id"),
                        r.get("value"),
                        r.get("vector"),
                        r.get("vectors"),
                        None,
                        r.get("metadata"),
                    )
                )
            incoming = self.spark.createDataFrame(data, _INGEST_SCHEMA)

        # id <-> value fallback (collection.ex:1069-1075). A row with
        # neither gets id '' — rejected below as an empty id — so the
        # column is NOT NULL, as EMBEDDING_SCHEMA declares.
        staged = incoming.withColumn(
            "id", F.coalesce(F.col("id"), F.col("value"), F.lit(""))
        ).withColumn("value", F.coalesce(F.col("value"), F.col("id")))

        # validate multi-vectors: each inner vector must match dims
        vectors_ok = F.when(
            F.col("vectors").isNull(), F.lit(True)
        ).otherwise(
            (F.size("vectors") > 0)
            & F.aggregate(
                F.col("vectors"),
                F.lit(True),
                lambda ok, v: ok & K.is_valid_vector(v, dims),
            )
        )

        # derive primary vector = mean of multi-vectors when absent (collection.ex:994-1017)
        staged = staged.withColumn(
            "vector",
            F.when(
                F.col("vector").isNull() & F.col("vectors").isNotNull(),
                K.mean_vector("vectors", dims),
            ).otherwise(F.col("vector").cast("array<double>")),
        )

        # ONE validation pass over the batch (at scale each .count() above a
        # big batch is a full scan — id, multi-vector, vector,
        # intra-batch-duplicate, AND vs-existing-duplicate checks all reduce
        # in a single aggregate job; the old shape paid three jobs per batch:
        # validation agg + isEmpty probe + clash semi-join)
        to_check = staged
        if self._maybe_nonempty:
            to_check = staged.join(
                self._df.select("id").withColumn("_clash", F.lit(1)),
                on="id",
                how="left",
            )
        else:
            to_check = staged.withColumn("_clash", F.lit(None).cast("int"))
        checks = to_check.agg(
            F.sum(
                F.when(F.col("id").isNull() | (F.col("id") == ""), 1).otherwise(0)
            ).alias("bad_id"),
            F.sum(F.when(~vectors_ok, 1).otherwise(0)).alias("bad_multi"),
            F.sum(F.when(~K.is_valid_vector("vector", dims), 1).otherwise(0)).alias("bad_vec"),
            (F.count("*") - F.countDistinct("id")).alias("dups"),
            F.sum("_clash").alias("clash"),
            F.count(F.lit(1)).alias("n_batch"),
        ).first()
        if checks["bad_id"]:
            raise ValueError("embedding id/value must be a non-empty string")
        if checks["bad_multi"]:
            raise ValueError(f"invalid multi-vector (each inner vector must have {dims} finite elements)")
        if checks["bad_vec"]:
            raise ValueError(f"invalid vector (must have {dims} finite elements within +/-f32max)")
        if checks["dups"]:
            raise ValueError("duplicate id within batch")
        if checks["clash"]:
            raise ValueError("duplicate id: already exists in collection")
        if not checks["n_batch"]:
            # empty batch: a no-op — do NOT stack a union/lineage node,
            # bump the mutation counters, invalidate resident indexes, or
            # set _maybe_nonempty (which would make a still-empty
            # collection refuse attach_store and pay the clash join on
            # every future put_many)
            return self

        # insert-time normalization of both vector and multi-vectors
        norm = cfg.normalize
        staged = staged.withColumn("vector", K.normalize(norm, "vector"))
        if norm != "none":
            staged = staged.withColumn(
                "vectors",
                F.when(
                    F.col("vectors").isNull(), F.lit(None).cast("array<array<double>>")
                ).otherwise(
                    F.transform(
                        F.col("vectors").cast("array<array<double>>"),
                        lambda v: K.normalize(norm, v),
                    )
                ),
            )

        # derive packed sign bits of the stored (normalized) vector
        staged = staged.withColumn("binary_vector", K.compress_sign_bits("vector", dims))

        # duplicate ids vs existing rows (store-level insert_new,
        # store/ets.ex:264-271) were rejected inside the single validation
        # aggregate above (`clash`).
        out = staged.select(
            F.col("id"),
            F.col("value"),
            F.col("vector").cast("array<float>").alias("vector"),
            F.col("vectors").cast("array<array<float>>").alias("vectors"),
            F.col("binary_vector"),
            F.col("metadata"),
        )
        # a tombstoned id must NOT be re-insertable before compaction:
        # the duplicate-id clash check above ran against the
        # overlay-FILTERED view (the deleted id is absent there), but
        # appending it to storage would leave the new row permanently
        # hidden by the anti-filter and compact_store() would then
        # discard it — an acknowledged write silently lost. Refuse
        # with the remediation instead. This check runs BEFORE the
        # resident-HNSW pop below: it needs no index state, and a refusal
        # here must not cost the caller a shard rebuild.
        if self._store is not None and self._store_deleted:
            if len(self._store_deleted) <= self._TOMBSTONE_ISIN_MAX:
                clashing = out.filter(F.col("id").isin(self._store_deleted))
            else:  # big overlay: semi-join, same rule as _without_tombstoned
                clashing = out.join(
                    F.broadcast(self._tombstone_df()), "id", "left_semi"
                )
            clash = [
                r["id"] for r in clashing.select("id").limit(10).collect()
            ]
            if clash:
                raise ValueError(
                    "put_many: id(s) "
                    f"{clash} are tombstoned in the attached store; "
                    "call compact_store() first to make them "
                    "re-insertable"
                )
        # resident HNSW maintenance across BATCH ingest: driver-small list
        # batches patch the shard table (one batched graph-insert job,
        # insert_many_into_graph_shards) instead of dropping it; DataFrame
        # batches still invalidate — routing them would need a collect,
        # the scale failure mode. Popped only HERE, after every validation
        # raise above: a rejected batch must leave the collection — and its
        # resident indexes — exactly as they were (no forced rebuild on the
        # next search just because one bad batch was refused).
        hnsw_resident = self.__dict__.pop("_hnsw_shards", None)

        def _bump_count() -> None:
            # every validation that can raise has run and the batch is
            # committed: the maintained count moves by exactly the
            # validated batch size (called AFTER the store append so an
            # IO failure cannot leave the counter ahead of storage)
            if self._row_count is not None:
                self._row_count += int(checks["n_batch"])

        if self._store is not None:
            # parquet-backed canonical table: append STORAGE, re-read —
            # the plan stays one scan forever, no lineage management
            self._store.append(out)
            _bump_count()
            self._df = self._canonical_read()
            self.__dict__["_union_depth"] = 0
            self._maybe_nonempty = True
            self._invalidate_derived()
            return self._patch_resident_hnsw(hnsw_resident, out, batch_rows)
        # materialize the batch at its first read (docstring). The union
        # keeps EMBEDDING_SCHEMA: it ORs nullability with the collection
        # frame's, which descends from the empty EMBEDDING_SCHEMA frame.
        out = resident_cut(out)
        if out.is_cached:
            self.__dict__.setdefault("_persisted_batches", []).append(out)
        self._df = self._df.unionByName(out)
        _bump_count()
        self._cut_lineage_maybe()
        self._maybe_nonempty = True
        self._invalidate_derived()
        return self._patch_resident_hnsw(hnsw_resident, out, batch_rows)

    def _cut_lineage_maybe(self) -> None:
        """Bound the in-memory plan's mutation depth: every _df rebind that
        STACKS a node (a put_many union, an in-memory delete filter)
        increments the depth counter, and at 8 the lineage is cut — K
        mutations must never build a K-deep plan that every later action
        re-analyzes (the long-lived-collection creep, for deletes as much
        as for ingest batches).

        The cut is lazy like put_many's per-batch cut, so the current rows
        are materialized at their first read: a reliable checkpoint when
        the session has a checkpoint dir, a local checkpoint on a local
        master. A cluster without a checkpoint dir keeps the union tree
        (over its persisted batches) and accepts the plan growth: a local
        checkpoint there would turn one lost executor into permanent loss
        of the CANONICAL rows, which, unlike derived indexes, are not
        rebuildable; route such a collection through attach_store for a
        bounded plan."""
        depth = self.__dict__.get("_union_depth", 0) + 1
        sc = self.spark.sparkContext
        if depth >= 8 and (
            sc.getCheckpointDir() is not None or single_jvm(sc.master)
        ):
            self._df = resident_cut(self._df)
            depth = 0
        self.__dict__["_union_depth"] = depth

    def _patch_resident_hnsw(
        self, hnsw_resident, out: DataFrame, batch_rows: list[dict] | None
    ) -> "Collection":
        """Re-stash the resident HNSW shard tables patched with the batch
        just ingested (put_many tail — runs AFTER the canonical rows are
        committed): closure routing for driver-small list batches, the
        cogroup DataFrame path for everything else."""
        if hnsw_resident is not None:
            from vettore_spark.operators import hnsw as H

            if batch_rows is not None and not batch_rows:
                # empty batch: nothing to route, keep as-is
                self.__dict__["_hnsw_shards"] = hnsw_resident
                return self
            if batch_rows is not None and len(batch_rows) <= _HNSW_CLOSURE_BATCH_CAP:
                # driver-small list batch: route in the task closure (one
                # narrow map job, no extra DataFrame plan)
                ins = [
                    ((r.get("id") or r.get("value")), self._stored_vector(r))
                    for r in batch_rows
                ]
                self.__dict__["_hnsw_shards"] = {
                    k: (
                        durable_cut(
                            H.insert_many_into_graph_shards(
                                sh, ins, shard_ids=sids
                            ),
                            eager=False,
                        ),
                        sids,
                    )
                    for k, (sh, sids) in hnsw_resident.items()
                }
            else:
                # DataFrame-sized ingest (a DataFrame batch, or a list
                # batch past the closure cap): route executor-side and
                # patch via ONE cogroup job (insert_df_into_graph_shards)
                # instead of dropping residency for a full O(n log n)
                # rebuild. `out` already holds the stored (normalized,
                # f32-rounded) vectors, so the patched graphs see exactly
                # the values a rebuild over the unioned table would.
                self.__dict__["_hnsw_shards"] = {
                    k: (
                        durable_cut(
                            H.insert_df_into_graph_shards(
                                sh, out, shard_ids=sids,
                                id_col="id", vector_col="vector",
                            ),
                            eager=False,
                        ),
                        sids,
                    )
                    for k, (sh, sids) in hnsw_resident.items()
                }
        return self

    def get_many(self, ids: list[str]) -> DataFrame:
        """Batched point lookup: ONE broadcast semi-join job for the whole
        id set — the Spark shape for bulk gets (a per-id get() loop would
        pay a job submission per row; the reference's parallel ETS read
        bench is the same contrast, ets_read_bench.exs). Returns the
        matching rows; missing ids are simply absent."""
        self._check_open()
        # explicit schema: createDataFrame cannot infer types from an
        # empty id list, and get_many([]) must return zero rows, not raise
        ids_df = self.spark.createDataFrame(
            [(str(i),) for i in ids], "id string"
        )
        return self._df.join(F.broadcast(ids_df), "id", "left_semi")

    def encode_and_put(
        self,
        docs: DataFrame,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        encode_fn=None,
    ) -> "Collection":
        """Ingest raw text: run the pluggable encoder stage
        (encodings.encoders.encode_texts — Arrow-batched, deterministic
        sha256 fake by default, real model via `encode_fn`) at the
        collection's dimensionality and put the embeddings through the
        full validated ingest pipeline (normalization, sign-bit packing,
        duplicate rejection). One call from corpus to searchable
        collection — the text is stored as each row's `value`."""
        from vettore_spark.encodings.encoders import encode_texts

        # the text rides through the encoder batches (passthrough) — a
        # corpus self-join to re-attach it would shuffle both sides
        emb = encode_texts(
            docs, encode_fn=encode_fn, id_col=id_col, text_col=text_col,
            dim=self.config.dimensions, passthrough_cols=[text_col],
        )
        staged = emb.select(
            F.col(id_col).cast("string").alias("id"),
            F.col(text_col).alias("value"),
            F.col("embedding").alias("vector"),
            F.lit(None).cast("array<array<double>>").alias("vectors"),
            F.lit(None).cast("array<long>").alias("binary_vector"),
            F.lit(None).cast("map<string,string>").alias("metadata"),
        )
        return self.put_many(staged)

    def put(self, row: dict) -> "Collection":
        """Single validated insert (collection.ex:167-172) — same pipeline
        as put_many with a one-row batch. Resident derived indexes are
        maintained INCREMENTALLY instead of being dropped for rebuild —
        the reference's insert-time index maintenance (hnsw.rs:152-245):
        HNSW via the one-shard graph patch, IVF via a one-row inverted-file
        append (ivf_insert, codebook untouched)."""
        resident = self.__dict__.pop("_hnsw_shards", None)
        ivf_resident = self.__dict__.pop("_ivf_state", None)
        pq_resident = self.__dict__.pop("_pq_indexes", None)
        sq_resident = self.__dict__.pop("_sq_params", None)
        try:
            self.put_many([row])
        except Exception:
            # rejected row: the collection is unchanged, so the popped
            # resident indexes are still valid — re-stash them instead of
            # forcing a full index rebuild on the next search
            for key, val in (
                ("_hnsw_shards", resident),
                ("_ivf_state", ivf_resident),
                ("_pq_indexes", pq_resident),
                ("_sq_params", sq_resident),
            ):
                if val is not None:
                    self.__dict__[key] = val
            raise
        if sq_resident is not None:
            # SQ min/max bounds stay resident across a single insert: an
            # out-of-range value clips in the CANDIDATE stage only (the
            # exact rerank re-orders on true vectors), the standard scalar-
            # quantizer maintenance contract; the code table itself is
            # plan-keyed and refreshes with the new rows automatically
            self.__dict__["_sq_params"] = sq_resident
        if resident or ivf_resident or pq_resident:
            rid = row.get("id") or row.get("value")
            vec = self._stored_vector(row)
        if resident:
            from vettore_spark.operators import hnsw as H
            # durability ladder, not a raw localCheckpoint: on a cluster a
            # lost executor must not orphan the patched resident shards
            # with no lineage to recompute (plans/checkpoint.py)
            self.__dict__["_hnsw_shards"] = {
                k: (
                    durable_cut(
                        H.insert_into_graph_shards(sh, rid, vec, shard_ids=sids),
                        eager=False,
                    ),
                    sids,
                )
                for k, (sh, sids) in resident.items()
            }
        if ivf_resident:
            from vettore_spark.operators import ann as ANN

            # IVF mirror of the HNSW patch: one driver-side nearest-cell
            # assignment + a one-row append to the inverted file — no
            # codebook re-train (ivf_insert); durable_cut bounds the
            # patched table's lineage. The payload columns ride along so
            # ivf_search(where=...) — which filters the inverted file —
            # still sees rows inserted after index residency.
            extras = self._stored_extras(row)
            self.__dict__["_ivf_state"] = {
                k: (
                    cents,
                    durable_cut(
                        ANN.ivf_insert(
                            assigned, rid, vec, centroids=cents,
                            id_col="id", vector_col="vector",
                            extras=extras,
                        ),
                        eager=False,
                    ),
                )
                for k, (cents, assigned) in ivf_resident.items()
            }
        if pq_resident:
            # PQ mirror: encode the one vector with the resident codebooks
            # and append a single code row (PqIndex.insert — no re-train)
            self.__dict__["_pq_indexes"] = {
                k: idx.insert(rid, vec) for k, idx in pq_resident.items()
            }
        return self

    def _stored_extras(self, row: dict) -> dict:
        """Driver-side payload columns for a one-row incremental index
        append, replicating exactly what put_many stores for `row`:
        id<->value fallback, per-inner-vector normalization (f32-rounded),
        sign bits packed from the normalized f64 primary vector (the
        pre-f32 value compress_sign_bits sees in the batch path), metadata
        as given."""
        import numpy as np

        v = row.get("vector")
        if v is None:
            v = np.mean(
                np.asarray(row["vectors"], dtype=np.float64), axis=0
            ).tolist()
        q = self._prepare_query(v)
        vecs = row.get("vectors")
        if vecs is not None:
            vecs = [
                np.asarray(self._prepare_query(list(x)), dtype=np.float32)
                .astype(np.float64)
                .tolist()
                for x in vecs
            ]
        val = row.get("value")
        if val is None:
            val = row.get("id")
        return {
            "value": val,
            "vectors": vecs,
            "binary_vector": K.pack_sign_bits_py(q, self.config.dimensions),
            "metadata": row.get("metadata"),
        }

    def _stored_vector(self, row: dict) -> list[float]:
        """The f64 view of the primary vector put_many stores for `row`:
        the given vector — or the mean of its multi-vectors when absent
        (collection.ex:1008-1017) — validated, collection-normalized, then
        f32-rounded (the stored column is array<float>)."""
        import numpy as np

        v = row.get("vector")
        if v is None:
            v = np.mean(
                np.asarray(row["vectors"], dtype=np.float64), axis=0
            ).tolist()
        q = self._prepare_query(v)
        return np.asarray(q, dtype=np.float32).astype(np.float64).tolist()

    # -- point ops (S3-S6) --------------------------------------------------

    def get(self, id_: str):
        self._check_open()
        rows = self._df.filter(F.col("id") == id_).collect()
        return rows[0] if rows else None

    def delete(self, id_: str) -> "Collection":
        """Row delete; resident derived indexes are patched in place
        rather than dropped for rebuild — HNSW (tombstone + edge strip +
        entry replacement, hnsw.rs:263-289), IVF (inverted-file
        tombstone), PQ (code-table tombstone)."""
        self._check_open()
        # delta unknown without a lookup (the id may be absent — filter
        # no-ops); invalidate, count() re-derives and re-caches. The
        # store path DOES run a lookup below and restores the exact count.
        prev_count = self._row_count
        self._row_count = None
        resident = self.__dict__.pop("_hnsw_shards", None)
        ivf_resident = self.__dict__.pop("_ivf_state", None)
        pq_resident = self.__dict__.pop("_pq_indexes", None)
        sq_resident = self.__dict__.pop("_sq_params", None)
        if self._store is not None:
            # only tombstone ids that EXIST (one LIMIT-1 lookup against the
            # overlay-filtered view): deleting an absent id must be the
            # same no-op as the in-memory path — an unconditional append
            # would permanently block re-inserting that id until
            # compact_store() (put_many's tombstone-clash refusal) and
            # grow the overlay anti-filter on every repeated no-op delete
            exists = (
                self._df.filter(F.col("id") == str(id_)).limit(1).count() > 0
            )
            if exists:
                # record in the overlay FIRST: the canonical read applies
                # it as an anti-filter, so a later store re-read (next
                # put_many) cannot resurrect the deleted row
                self._store_deleted.append(str(id_))
                self._df = self._canonical_read()
                if prev_count is not None:
                    self._row_count = prev_count - 1  # ids unique: exact
            else:
                self._row_count = prev_count  # proven no-op
        else:
            self._df = self._df.filter(F.col("id") != id_)
            # a delete stacks a filter node exactly like a put stacks a
            # union — same depth budget, same cut (10k deletes must not
            # build a 10k-node plan)
            self._cut_lineage_maybe()
        self._invalidate_derived()
        if sq_resident is not None:
            # min/max bounds trained on a superset remain valid bounds for
            # any subset — keep them, skip the re-train scan
            self.__dict__["_sq_params"] = sq_resident
        if pq_resident:
            self.__dict__["_pq_indexes"] = {
                k: idx.delete(id_) for k, idx in pq_resident.items()
            }
        if resident:
            from vettore_spark.operators import hnsw as H

            self.__dict__["_hnsw_shards"] = {
                k: (
                    durable_cut(
                        H.delete_from_graph_shards(sh, id_), eager=False
                    ),
                    sids,
                )
                for k, (sh, sids) in resident.items()
            }
        if ivf_resident:
            from vettore_spark.operators import ann as ANN

            # durable_cut like the insert path: K deletes must not chain
            # K filter nodes onto the resident inverted file (the same
            # lineage creep _cut_lineage_maybe bounds for canonical rows)
            self.__dict__["_ivf_state"] = {
                k: (
                    cents,
                    durable_cut(
                        ANN.ivf_delete(assigned, id_, id_col="id"),
                        eager=False,
                    ),
                )
                for k, (cents, assigned) in ivf_resident.items()
            }
        return self

    def _invalidate_derived(self) -> None:
        """Drop derived-index caches when self._df is rebound (put/delete):
        a stale PQ code table would make newly inserted vectors unreachable
        (the candidate semi-join only yields ids present in the old codes)
        and deleted ids resurrectable. The reference maintains its indexes
        in the insert/delete path (hnsw.rs:263-289); the Spark analog is
        rebuild-on-next-search from the canonical rows."""
        self.__dict__.pop("_pq_indexes", None)
        self.__dict__.pop("_sq_params", None)
        self.__dict__.pop("_hnsw_shards", None)
        self.__dict__.pop("_ivf_state", None)
        # module-level keyed persists (IVF assignments, shingle tables,
        # kNN edge tables) built FROM this collection's rows must go too:
        # for a store-backed collection the post-mutation read is
        # sameSemantics-EQUAL to the pre-mutation one (appends don't
        # change the plan), so without this hook cached_persist would
        # silently keep serving the old rows. leaf_overlap extends the
        # eviction to entries recording DERIVED plans (projections /
        # repartitions of the df — they too stay sameSemantics-equal
        # across the append); it is store-backed-only because an
        # in-memory mutation REBINDS the plan, turning old derived
        # entries into unreachable misses rather than stale hits
        try:
            from vettore_spark.plans.cache import invalidate_source

            invalidate_source(self._df, leaf_overlap=self._store is not None)
        except Exception:  # noqa: BLE001 — cache cleanup must never fail a write
            pass

    def all(self) -> DataFrame:
        return self.df

    def count(self) -> int:
        """Row count — O(1) from the maintained counter when valid (the
        reference reads ETS table size, store/ets.ex info), one scan +
        re-cache otherwise."""
        self._check_open()
        if self._row_count is None:
            self._row_count = self.df.count()
        return self._row_count

    def fold(self, *aggs) -> list:
        """Streaming fold over rows (store/ets.ex:151-179): the Spark shape
        is an aggregate expression list; returns the single result row as a
        list. `c.fold(F.count("*"), F.sum("payload"))`."""
        return list(self.df.agg(*aggs).first())

    # -- search (delegates to operators) ------------------------------------

    @property
    def _pre_normalized(self) -> bool:
        """True only when stored vectors are unit-norm (normalize='l2'):
        the cosine==dot shortcut every facade passes to its kernel is
        valid EXACTLY then. A cosine collection created with
        normalize='none'/'zscore'/'minmax' (the reference's whitelist
        allows it) must use the true-cosine kernel — the reference's
        distances.rs::cosine computes true cosine regardless of stored
        normalization, and the dot shortcut would return unclamped dot
        products mislabeled as cosine scores."""
        return self.config.normalize == "l2"

    def prepare_query(self, query: list[float]) -> list[float]:
        """Public Q10 surface (vettore.ex:314): validate + apply the
        collection normalize to a raw query vector."""
        return self._prepare_query(query)

    def _prepare_query(self, query: list[float]) -> list[float]:
        """Validate + normalize a query like the collection path
        (collection.ex:351-357): dims check, finiteness, collection
        normalize."""
        self._check_open()
        import math

        if len(query) != self.config.dimensions:
            raise ValueError("query dimension mismatch")
        if any(not math.isfinite(float(x)) or abs(float(x)) > K.F32_MAX for x in query):
            raise ValueError("query contains a non-finite value")
        q = [float(x) for x in query]
        mode = self.config.normalize
        if mode == "none":
            return q
        import numpy as np

        a = np.asarray(q)
        if mode == "l2":
            n = float(np.sqrt(a @ a))
            return (a / n).tolist() if n else q
        if mode == "zscore":
            s = float(a.std())
            return ((a - a.mean()) / s).tolist() if s else [0.0] * len(q)
        lo, hi = float(a.min()), float(a.max())
        return ((a - lo) / (hi - lo)).tolist() if hi != lo else [0.0] * len(q)

    def _where(self, where) -> DataFrame:
        """Candidate restriction for the search facades: None -> all rows;
        a Column or SQL-string predicate -> filtered view (applied to the
        canonical rows, below every scoring kernel and candidate stage)."""
        if where is None:
            return self.df
        return self.df.filter(where)

    def search(self, query: list[float], *, limit: int = 10,
               where=None) -> DataFrame:
        """Exact top-k; `where` (Column or SQL string) restricts the
        candidate rows BEFORE scoring — the reference's filter superset
        (§2.2) at the facade: the predicate sits below the kernel in the
        plan, so column pruning and pushdown apply and non-matching rows
        are never scored."""
        from vettore_spark.operators import search as S

        q = self._prepare_query(query)
        return S.flat_topk(
            self._where(where),
            q,
            metric=self.config.metric,
            k=limit,
            score_mode=self.config.score,
            pre_normalized=self._pre_normalized,
            extra_cols=["value"],
        )

    def range_search(self, query: list[float], *,
                     max_distance: float | None = None,
                     min_score: float | None = None,
                     limit: int | None = None, where=None) -> DataFrame:
        """All rows within a distance/score threshold, best first — the
        radius companion to `search` (Spark superset surface; the
        reference is top-k-only). Exactly one of `max_distance` /
        `min_score`; `where` restricts candidates before scoring, and
        `limit` caps the (otherwise unbounded-by-construction) result."""
        from vettore_spark.operators import search as S

        q = self._prepare_query(query)
        return S.flat_range(
            self._where(where),
            q,
            metric=self.config.metric,
            max_distance=max_distance,
            min_score=min_score,
            limit=limit,
            score_mode=self.config.score,
            pre_normalized=self._pre_normalized,
            extra_cols=["value"],
        )

    def search_many(
        self,
        queries: dict[str, list[float]] | list[list[float]],
        *,
        limit: int = 10,
        where=None,
    ) -> DataFrame:
        """Batched exact search: every query scored in ONE pass over the
        collection (broadcast query matrix + per-query group-limit top-k —
        operators.search.multi_query_topk), instead of one Spark job per
        query. Accepts {query_id: vector} or a list (ids q0, q1, ...).
        Returns (query_id, id, score, distance, rank). The batch extension
        beyond the reference's one-query-at-a-time surface — the shape that
        matters when serving thousands of queries against 100 TB."""
        from vettore_spark.operators import search as S

        self._check_open()
        if isinstance(queries, dict):
            items = [(k, self._prepare_query(v)) for k, v in queries.items()]
        else:
            items = [
                (f"q{i}", self._prepare_query(v)) for i, v in enumerate(queries)
            ]
        qdf = self.spark.createDataFrame(
            items, "query_id string, query_vector array<double>"
        )
        return S.multi_query_topk(
            qdf,
            self._where(where),
            metric=self.config.metric,
            k=limit,
            score_mode=self.config.score,
            pre_normalized=self._pre_normalized,
        )

    def range_search_many(
        self,
        queries: dict[str, list[float]] | list[list[float]],
        *,
        max_distance: float | None = None,
        min_score: float | None = None,
        where=None,
    ) -> DataFrame:
        """Batched radius search: every query's within-threshold matches
        in ONE pass over the collection (broadcast queries + codegen
        threshold filter — operators.search.multi_query_range; no
        per-query window, no shuffle of the collection). Accepts
        {query_id: vector} or a list (ids q0, q1, ...). Returns
        (query_id, id, score, distance), unordered."""
        from vettore_spark.operators import search as S

        self._check_open()
        if isinstance(queries, dict):
            items = [(k, self._prepare_query(v)) for k, v in queries.items()]
        else:
            items = [
                (f"q{i}", self._prepare_query(v)) for i, v in enumerate(queries)
            ]
        qdf = self.spark.createDataFrame(
            items, "query_id string, query_vector array<double>"
        )
        return S.multi_query_range(
            qdf,
            self._where(where),
            metric=self.config.metric,
            max_distance=max_distance,
            min_score=min_score,
            score_mode=self.config.score,
            pre_normalized=self._pre_normalized,
        )

    def quantized_search(self, query: list[float], *, limit: int = 10,
                         candidates: int | None = None, where=None) -> DataFrame:
        from vettore_spark.operators import search as S

        q = self._prepare_query(query)
        return S.quantized_search(
            self._where(where), q, dims=self.config.dimensions, metric=self.config.metric,
            k=limit, candidates=candidates, score_mode=self.config.score,
            pre_normalized=self._pre_normalized,
        )

    def funnel_search(self, query: list[float], *, stages: list[int] | None = None,
                      limit: int = 10, candidates: int | None = None,
                      where=None) -> DataFrame:
        from vettore_spark.operators import search as S

        q = self._prepare_query(query)
        return S.funnel_search(
            self._where(where), q, dims=self.config.dimensions, stages=stages,
            metric=self.config.metric, k=limit, candidates=candidates,
            score_mode=self.config.score,
            pre_normalized=self._pre_normalized,
        )

    def pq_search(self, query: list[float], *, limit: int = 10,
                  candidates: int = 100, m: int = 8, n_codes: int = 16,
                  iters: int = 5, where=None) -> DataFrame:
        """Two-stage product-quantization search (extension beyond the
        reference's binary quantization): deterministic codebooks trained
        on an id-sorted sample, ADC candidate generation over the persisted
        code table, exact rerank with the collection metric. Supported for
        l2/cosine collections (the ADC stage is an L2 quantizer).

        `where` is POST-filtered on the candidate set (the code table is
        shared across predicates), with the ADC stage over-fetching 4x
        when a predicate is present — like hnsw_search(where=), results
        may number fewer than `limit` under a selective predicate."""
        from vettore_spark.sources.store import PqIndex

        if self.config.metric not in ("l2", "euclidean", "cosine"):
            raise ValueError(
                f"pq_search supports l2/cosine collections, not "
                f"{self.config.metric!r} (the ADC stage is an L2 quantizer)"
            )
        q = self._prepare_query(query)
        # index residency: train/encode once per (params) and reuse across
        # queries, like the reference's insert-time index maintenance
        key = (m, n_codes, iters)
        cache = self.__dict__.setdefault("_pq_indexes", {})
        idx = cache.get(key)
        if idx is None:
            idx = PqIndex(m=m, n_codes=n_codes, iters=iters).build(self.df)
            cache[key] = idx
        idx.factor = max(1, candidates // max(limit, 1))
        if where is not None:
            idx.factor *= 4  # over-fetch so the post-filter can still fill k
        pruned = idx.candidates(self.df, q, limit)
        if where is not None:
            pruned = pruned.join(
                self._where(where).select("id"), "id", "left_semi"
            )
        from vettore_spark.operators import search as S

        return S.flat_topk(
            pruned, q, metric=self.config.metric, k=limit,
            score_mode=self.config.score, pre_normalized=self._pre_normalized,
        )

    def hnsw_search(self, query: list[float], *, limit: int = 10,
                    ef_search: int | None = None,
                    num_partitions: int = 8,
                    where=None, oversample: int = 4) -> DataFrame:
        """Partition-parallel HNSW search over a RESIDENT graph-shard table
        (Q6/Q7): built once per (params) from the canonical rows, then
        maintained incrementally — `put` inserts into one shard's graph,
        `delete` patches the owning shard (entry replacement) — matching
        the reference's insert/delete-time index maintenance
        (hnsw.rs:152-245, :263-289). Bulk put_many still invalidates for a
        rebuild (bulk graph construction beats n incremental inserts).
        Returns (id, score, distance) like `search`.

        `where` is POST-filtered with over-fetch (the graph is traversed
        for limit*oversample, then the predicate-passing top `limit` kept)
        — the standard graph-index filtering mode: results may number
        fewer than `limit` under a selective predicate; use
        `search(where=)` (exact filter-first scan) when the filtered
        subset is small enough to scan."""
        from vettore_spark.operators import hnsw as H

        self._check_open()
        q = self._prepare_query(query)
        p = H.HnswParams() if ef_search is None else H.HnswParams(ef_search=ef_search)
        key = (self.config.metric, p.m, p.m0, p.ef_construction,
               p.max_level, num_partitions)
        cache = self.__dict__.setdefault("_hnsw_shards", {})
        hit = cache.get(key)
        if hit is None:
            shards = H.build_graph_shards(
                self._df.select("id", "vector"), metric=self.config.metric,
                params=p, id_col="id", vector_col="vector",
                num_partitions=num_partitions,
            )
            # shard-id list collected ONCE at build: put-time routing then
            # needs no Spark job (insert_into_graph_shards shard_ids=)
            sids = [r["shard_id"] for r in shards.select("shard_id").collect()]
            hit = (shards, sids)
            cache[key] = hit
        shards, _ = hit
        k_fetch = limit if where is None else limit * max(1, oversample)
        out = H.search_graph_shards(
            shards, [("q", q)], metric=self.config.metric, k=k_fetch,
            ef_search=p.ef_search, id_col="id", id_type=T.StringType(),
        )
        if where is not None:
            allowed = self._where(where).select("id")
            out = (
                out.join(allowed, "id", "left_semi")
                .orderBy("rank")
                .limit(limit)
            )
        return out.select("id", "score", "distance")

    def ivf_search(self, query: list[float], *, limit: int = 10,
                   n_cells: int = 8, n_probe: int = 2,
                   where=None) -> DataFrame:
        """IVF approximate search over a RESIDENT inverted file: centroids
        trained once (distributed MLlib KMeans, fixed seed), the cell
        assignment persisted and maintained incrementally — delete via the
        tombstone patch (ivf_delete), put via the one-row append
        (ivf_insert); the codebook is untouched by both, the reference's
        index-maintenance contract. Bulk put_many still invalidates for
        rebuild (a batch may warrant a new codebook). Returns (id, score,
        distance, rank) for the probed cells.

        `where` composes on the inverted file BEFORE within-cell scoring
        (the filtered-probe mode, same structure as the gate query
        ivf_filtered_topk): exact filtering with the index shared across
        predicates — no over-fetch needed."""
        from vettore_spark.operators import ann as ANN
        from vettore_spark.operators.mllib_lsh import kmeans_centroids
        from vettore_spark.operators.search import single_query_frame

        self._check_open()
        # the IVF probe/score path is a COSINE kernel end to end
        # (ann.ivf_topk / _ivf_probe_scored); serving it for an l2/dot
        # collection would silently return cosine-ranked results that
        # disagree with search() — fail fast like pq_search/sq_search do
        if self.config.metric != "cosine":
            raise ValueError(
                f"ivf_search supports cosine collections only, not "
                f"{self.config.metric!r}: the cell assignment and "
                "within-cell scoring are cosine kernels — use search() / "
                "pq_search (l2) for other metrics"
            )
        q = self._prepare_query(query)
        key = (n_cells,)
        cache = self.__dict__.setdefault("_ivf_state", {})
        hit = cache.get(key)
        if hit is None:
            cents = kmeans_centroids(self._df, k=n_cells, vector_col="vector")
            assigned = ANN.ivf_assign(
                self._df, centroids=cents, id_col="id", vector_col="vector"
            )
            hit = (cents, assigned)
            cache[key] = hit
        cents, assigned = hit
        if where is not None:
            assigned = assigned.filter(where)
        out = ANN.ivf_topk(
            self._df, single_query_frame(self.spark, q), centroids=cents,
            n_probe=n_probe, k=limit,
            id_col="id", vector_col="vector", assigned=assigned,
        )
        return out.select("id", "score", "distance", "rank")

    def sq_search(self, query: list[float], *, limit: int = 10,
                  candidates: int = 100, where=None) -> DataFrame:
        """Two-stage SQ8 scalar-quantization search (extension beyond the
        reference's binary quantization, between sign-bit and PQ on the
        compression spectrum): per-dim min/max trained once per collection
        state (invalidated on put/delete like the PQ index), scaled-integer
        L2 candidates over uint8 codes, exact rerank with the collection
        metric. Supported for l2/cosine collections (the candidate stage is
        an L2 proxy — exact for l2, rank-preserving on unit-norm cosine).

        `where` restricts the CANDIDATE stage input (exact filtering: the
        trained min/max bounds remain valid for any subset, so the shared
        quantizer serves every predicate)."""
        from vettore_spark.operators import sq as SQ

        if self.config.metric not in ("l2", "euclidean", "cosine"):
            raise ValueError(
                f"sq_search supports l2/cosine collections, not "
                f"{self.config.metric!r} (the candidate stage is an L2 proxy)"
            )
        q = self._prepare_query(query)
        params = self.__dict__.get("_sq_params")
        if params is None:
            params = SQ.sq_train(self._df, vector_col="vector")
            self.__dict__["_sq_params"] = params
        mins, maxs = params
        return SQ.sq_topk(
            self._where(where), q, mins, maxs, k=limit, candidates=candidates,
            id_col="id", vector_col="vector",
            metric=self.config.metric, score_mode=self.config.score,
            pre_normalized=self._pre_normalized,
        )

    def hybrid_search(self, query: list[float], *, generators: list[str] | None = None,
                      limit: int = 10, candidates: int | None = None,
                      rerank: str = "exact",
                      rerank_query_vectors: list[list[float]] | None = None,
                      where=None) -> DataFrame:
        from vettore_spark.operators import search as S

        q = self._prepare_query(query)
        return S.hybrid_search(
            self._where(where), q, dims=self.config.dimensions, generators=generators,
            metric=self.config.metric, k=limit, candidates=candidates,
            rerank=rerank, rerank_query_vectors=rerank_query_vectors,
            score_mode=self.config.score,
            pre_normalized=self._pre_normalized,
        )

    def multi_vector_search(self, query_vectors: list[list[float]], *,
                            metric: str | None = None, limit: int = 10,
                            where=None) -> DataFrame:
        """MaxSim multi-vector top-k; `where` restricts candidate rows
        BEFORE scoring like every other search facade (§2.2 filter
        superset) — exact, since MaxSim is a full scan of the (filtered)
        rows."""
        from vettore_spark.operators import multivector as MV

        self._check_open()
        # every token vector goes through the SAME validate+normalize path
        # as single-vector queries (finiteness check + collection
        # normalize): stored vectors were normalized at ingest, so raw
        # query tokens would scale MaxSim scores by each token's norm on
        # dot-product collections, and a NaN element would silently yield
        # NaN scores instead of the facade's finiteness error
        qs = [self._prepare_query(q) for q in query_vectors]
        return MV.maxsim_topk(
            self._where(where), qs, metric=metric or self.config.metric,
            k=limit, extra_cols=["value"],
        )

    # -- snapshot (S7/S8) ---------------------------------------------------

    _SNAPSHOT_FORMATS = ("parquet", "json", "csv")

    @staticmethod
    def _table_fingerprint(df: DataFrame) -> tuple[int, int]:
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

    def snapshot(self, path: str, *, format: str = "parquet",
                 include_indexes: bool = False) -> None:
        """Persist: data dir (atomic commit) + config JSON sidecar
        (store/ets.ex:27-47). By default the derived index is NOT
        persisted — it is rebuilt from canonical rows on load
        (collection.ex:426-433). With `include_indexes=True` (parquet
        only) any RESIDENT HNSW shard tables are written alongside the
        data and restored by load_snapshot without a rebuild — at corpus
        scale a graph rebuild dwarfs the load itself, so a restart should
        not pay it. Index and data are written from the same snapshot
        call, so they are mutually consistent by construction.

        The reference has exactly one snapshot codec (:ets.tab2file);
        Spark's writer family comes free, so `format` may be parquet
        (default), json, or csv. CSV cannot carry nested arrays/maps, so
        array and map columns are JSON-encoded per cell on write and decoded
        on load — interchange format for export, parquet for fidelity."""
        self._check_open()
        if format not in self._SNAPSHOT_FORMATS:
            raise ValueError(f"snapshot format must be one of {self._SNAPSHOT_FORMATS}")
        codec = "zstd" if self.config.compressed else "snappy"
        data = os.path.join(path, "data")
        if format == "parquet":
            self.df.write.mode("overwrite").option("compression", codec).parquet(data)
        elif format == "json":
            self.df.write.mode("overwrite").json(data)
        else:
            flat = self.df.select(
                "id",
                "value",
                F.to_json("vector").alias("vector"),
                F.to_json("vectors").alias("vectors"),
                F.to_json("binary_vector").alias("binary_vector"),
                F.to_json("metadata").alias("metadata"),
            )
            flat.write.mode("overwrite").option("header", "true").csv(data)
        cfg = asdict(self.config)
        cfg["_snapshot_format"] = format
        if include_indexes:
            if format != "parquet":
                raise ValueError("include_indexes requires the parquet format")
            manifest = []
            resident = self.__dict__.get("_hnsw_shards") or {}
            for i, (key, (shards, sids)) in enumerate(
                sorted(resident.items(), key=lambda kv: str(kv[0]))
            ):
                sub = os.path.join(path, "index_hnsw", f"k{i}")
                shards.write.mode("overwrite").parquet(sub)
                # per-index integrity: the data-dir sidecar does not cover
                # index dirs, so a tampered/hand-replaced index would load
                # silently and serve wrong results — record rows AND a
                # content fingerprint at write time, verified before
                # installing on load. Fingerprint the parquet JUST WRITTEN
                # (not the in-memory plan): one cheap scan instead of a
                # second full index-plan job, and the checksum matches the
                # bytes on disk by construction — a lineage recompute
                # between write and fingerprint can never poison the
                # manifest into permanently rejecting its own files
                n, ck = self._table_fingerprint(self.spark.read.parquet(sub))
                manifest.append(
                    {"dir": f"k{i}", "key": list(key), "shard_ids": sids,
                     "rows": n, "checksum": ck}
                )
            if manifest:
                cfg["_hnsw_indexes"] = manifest
            ivf_manifest = []
            for i, (key, (cents, assigned)) in enumerate(
                sorted((self.__dict__.get("_ivf_state") or {}).items(),
                       key=lambda kv: str(kv[0]))
            ):
                sub = os.path.join(path, "index_ivf", f"k{i}")
                cents.write.mode("overwrite").parquet(
                    os.path.join(sub, "centroids")
                )
                assigned.write.mode("overwrite").parquet(
                    os.path.join(sub, "assigned")
                )
                cn, cck = self._table_fingerprint(
                    self.spark.read.parquet(os.path.join(sub, "centroids"))
                )
                an, ack = self._table_fingerprint(
                    self.spark.read.parquet(os.path.join(sub, "assigned"))
                )
                ivf_manifest.append(
                    {"dir": f"k{i}", "key": list(key),
                     "centroid_rows": cn, "centroid_checksum": cck,
                     "assigned_rows": an, "assigned_checksum": ack}
                )
            if ivf_manifest:
                cfg["_ivf_indexes"] = ivf_manifest
            pq_manifest = []
            for i, (key, idx) in enumerate(
                sorted((self.__dict__.get("_pq_indexes") or {}).items(),
                       key=lambda kv: str(kv[0]))
            ):
                if idx._books is None or idx._codes is None:
                    continue
                sub = os.path.join(path, "index_pq", f"k{i}")
                idx._codes.write.mode("overwrite").parquet(sub)
                n, ck = self._table_fingerprint(self.spark.read.parquet(sub))
                pq_manifest.append(
                    {"dir": f"k{i}", "key": list(key),
                     "books": idx._books.tolist(),
                     "codes_rows": n, "codes_checksum": ck}
                )
            if pq_manifest:
                cfg["_pq_indexes"] = pq_manifest
        # integrity sidecar, mirroring the reference's ETS extended_info
        # (object_count + md5sum, store/ets.ex:29-47): row count plus an
        # order-insensitive id checksum (XOR of xxhash64(id) survives any
        # partitioning/row order and every interchange format exactly)
        stats = self.df.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("id")).alias("ck"),
        ).collect()[0]
        cfg["_object_count"] = stats["n"]
        cfg["_id_checksum"] = stats["ck"]
        with open(os.path.join(path, "config.json"), "w") as f:
            json.dump(cfg, f)

    @classmethod
    def load_snapshot(cls, spark: SparkSession, path: str, **overrides: Any) -> "Collection":
        """Load + re-validate; only name/index/index_options/score may be
        overridden — structural overrides rejected exactly as
        collection.ex:1159-1174."""
        bad = set(overrides) & _STRUCTURAL
        if bad:
            raise ValueError(f"structural override not allowed: {sorted(bad)}")
        unknown = set(overrides) - _OVERRIDABLE
        if unknown:
            raise ValueError(f"unknown override: {sorted(unknown)}")
        with open(os.path.join(path, "config.json")) as f:
            raw = json.load(f)
        fmt = raw.pop("_snapshot_format", "parquet")
        want_count = raw.pop("_object_count", None)
        want_ck = raw.pop("_id_checksum", None)
        idx_manifest = raw.pop("_hnsw_indexes", [])
        ivf_manifest = raw.pop("_ivf_indexes", [])
        pq_manifest = raw.pop("_pq_indexes", [])
        raw.update(overrides)
        cfg = CollectionConfig(**raw)
        data = os.path.join(path, "data")
        if fmt == "parquet":
            df = spark.read.parquet(data)
        elif fmt == "json":
            df = spark.read.schema(EMBEDDING_SCHEMA).json(data)
        elif fmt == "csv":
            # multiLine: the writer quotes embedded newlines (Spark's
            # default quoting), so the reader must parse quoted multi-line
            # records — without it a value containing '\n' splits into two
            # malformed rows and the integrity check below rejects a
            # perfectly valid snapshot
            flat = spark.read.option("header", "true").option(
                "multiLine", "true"
            ).csv(data)
            df = flat.select(
                F.col("id"),
                F.col("value"),
                F.from_json("vector", EMBEDDING_SCHEMA["vector"].dataType).alias("vector"),
                F.from_json("vectors", EMBEDDING_SCHEMA["vectors"].dataType).alias("vectors"),
                F.from_json(
                    "binary_vector", EMBEDDING_SCHEMA["binary_vector"].dataType
                ).alias("binary_vector"),
                F.from_json(
                    "metadata", EMBEDDING_SCHEMA["metadata"].dataType
                ).alias("metadata"),
            )
        else:
            raise ValueError(f"unknown snapshot format {fmt!r}")
        missing = set(EMBEDDING_SCHEMA.fieldNames()) - set(df.columns)
        if missing:
            raise ValueError(f"snapshot schema missing columns: {sorted(missing)}")
        # integrity verification against the sidecar (reference: tab2file
        # extended_info verified on file2tab, store/ets.ex:49-58) — a
        # truncated/merged/hand-edited data dir fails here, not at query time
        if want_count is not None:
            stats = df.agg(
                F.count("*").alias("n"), F.bit_xor(F.xxhash64("id")).alias("ck")
            ).collect()[0]
            if stats["n"] != want_count or (
                want_ck is not None and stats["ck"] != want_ck
            ):
                raise ValueError(
                    "snapshot integrity check failed: "
                    f"expected {want_count} rows, found {stats['n']}"
                    + ("" if want_ck is None else " (or id checksum mismatch)")
                )
        # re-validate every record like the reference load path
        n_bad = df.filter(~K.is_valid_vector("vector", cfg.dimensions)).limit(1).count()
        if n_bad:
            raise ValueError("snapshot contains invalid vectors")
        out = cls(spark, cfg, df.select(*EMBEDDING_SCHEMA.fieldNames()))
        if want_count is not None:
            # the integrity check just PROVED the exact row count — seed
            # the O(1) counter so the first count() after a restart is a
            # driver lookup, not a rescan of what was verified moments ago
            out._row_count = int(want_count)
        # restore persisted HNSW shard tables (snapshot include_indexes=True)
        # — searches start warm, no graph rebuild on restart
        # verify each index dir against the row counts recorded at snapshot
        # time (the data-dir checksum above does not cover index dirs): a
        # mismatched index is NOT installed — the entry is skipped with a
        # warning and the index rebuilds lazily from the verified canonical
        # rows at first search, trading a rebuild for silent wrong results
        if idx_manifest:
            cache = out.__dict__.setdefault("_hnsw_shards", {})
            for ent in idx_manifest:
                shards = spark.read.parquet(
                    os.path.join(path, "index_hnsw", ent["dir"])
                )
                want = ent.get("rows")
                want_ick = ent.get("checksum")
                n, ck = cls._table_fingerprint(shards)
                if (want is not None and n != want) or (
                    want_ick is not None and ck != want_ick
                ):
                    warnings.warn(
                        f"snapshot HNSW index {ent['dir']} failed integrity "
                        f"check (rows/content fingerprint mismatch); "
                        "skipping — the index will rebuild from canonical "
                        "rows",
                        stacklevel=2,
                    )
                    continue
                cache[tuple(ent["key"])] = (shards, list(ent["shard_ids"]))
        if ivf_manifest:
            cache = out.__dict__.setdefault("_ivf_state", {})
            for ent in ivf_manifest:
                sub = os.path.join(path, "index_ivf", ent["dir"])
                cents = spark.read.parquet(os.path.join(sub, "centroids"))
                assigned = spark.read.parquet(os.path.join(sub, "assigned"))
                want_c = ent.get("centroid_rows")
                want_a = ent.get("assigned_rows")
                want_cck = ent.get("centroid_checksum")
                want_ack = ent.get("assigned_checksum")
                cn, cck = cls._table_fingerprint(cents)
                an, ack = cls._table_fingerprint(assigned)
                if (
                    (want_c is not None and cn != want_c)
                    or (want_a is not None and an != want_a)
                    or (want_cck is not None and cck != want_cck)
                    or (want_ack is not None and ack != want_ack)
                ):
                    warnings.warn(
                        f"snapshot IVF index {ent['dir']} failed integrity "
                        "check; skipping — the index will rebuild from "
                        "canonical rows",
                        stacklevel=2,
                    )
                    continue
                cache[tuple(ent["key"])] = (cents, assigned)
        if pq_manifest:
            import numpy as np

            from vettore_spark.sources.store import PqIndex

            cache = out.__dict__.setdefault("_pq_indexes", {})
            for ent in pq_manifest:
                codes = spark.read.parquet(
                    os.path.join(path, "index_pq", ent["dir"])
                )
                n, ck = cls._table_fingerprint(codes)
                if (
                    ent.get("codes_rows") is not None
                    and n != ent["codes_rows"]
                ) or (
                    ent.get("codes_checksum") is not None
                    and ck != ent["codes_checksum"]
                ):
                    warnings.warn(
                        f"snapshot PQ index {ent['dir']} failed integrity "
                        "check; skipping — the index will rebuild from "
                        "canonical rows",
                        stacklevel=2,
                    )
                    continue
                m, n_codes, iters = ent["key"]
                idx = PqIndex(m=m, n_codes=n_codes, iters=iters)
                idx._books = np.asarray(ent["books"], dtype=np.float64)
                idx._codes = codes
                cache[tuple(ent["key"])] = idx
        return out
