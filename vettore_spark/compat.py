"""Legacy DB-handle compatibility facade (lib/vettore.ex:317-642).

The reference keeps a thin `Vettore` API that namespaces collections by name
inside one handle and speaks tuples instead of Result structs. This facade
reproduces that surface over the new Collection API:

- create_collection/5 with alias normalization and index inference from the
  legacy ':hnsw' metric (vettore.ex:329-383)
- insert/3, batch/3 (vettore.ex:385-450)
- get_by_value/3, get_by_vector/3 — scan-compare against the normalized
  vector (vettore.ex:508-524)
- get_all/3 -> legacy (id, vector, metadata) tuples (vettore.ex:526-560)
- similarity_search/4 -> (id, score) pairs (vettore.ex:562-590)
- rerank/4 — MMR over the whole collection (vettore.ex:592-618)
- delete/3, delete_collection/2 (vettore.ex:620-642)
"""

from __future__ import annotations



import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from vettore_spark.collection import Collection
from vettore_spark.functions import kernels as K


class Vettore:
    """Legacy DB handle: a named registry of collections."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._collections: dict[str, Collection] = {}

    @classmethod
    def new(cls, spark: SparkSession) -> "Vettore":
        return cls(spark)

    def create_collection(
        self, name: str, dimensions: int, metric: str = "cosine", **opts
    ) -> "Vettore":
        if name in self._collections:
            raise ValueError(f"collection already exists: {name!r}")
        # legacy ':hnsw' metric means "l2 with an hnsw index" (vettore.ex:675-680)
        if metric == "hnsw":
            metric = "l2"
            opts["index"] = "hnsw"
        else:
            metric = K.canonical_metric(metric)
        self._collections[name] = Collection.create(
            self.spark, name, dimensions, metric=metric, **opts
        )
        return self

    def _coll(self, name: str) -> Collection:
        if name not in self._collections:
            raise KeyError(f"unknown collection: {name!r}")
        return self._collections[name]

    def insert(self, coll: str, embedding: dict) -> "Vettore":
        self._coll(coll).put_many([embedding])
        return self

    def batch(self, coll: str, embeddings: list[dict]) -> "Vettore":
        self._coll(coll).put_many(embeddings)
        return self

    def get_by_value(self, coll: str, value: str):
        from pyspark.sql import functions as F

        rows = self._coll(coll).df.filter(F.col("value") == value).limit(1).collect()
        return rows[0] if rows else None

    def get_by_vector(self, coll: str, vector: list[float]):
        """Exact-match lookup against the collection-normalized vector
        (vettore.ex:508-524). The legacy semantics are an f32 scan-compare;
        the Spark shape is a pushed-down FILTER (both sides cast to
        array<float>, compared JVM-side), not a driver collect of the
        collection — only the <=1 matching row ever reaches the driver."""
        c = self._coll(coll)
        q = np.asarray(c._prepare_query(vector), dtype=np.float32)
        lit_q = K.double_array_lit(q).cast("array<float>")
        rows = (
            c.df.filter(F.col("vector").isNotNull())
            .filter(F.col("vector").cast("array<float>") == lit_q)
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    # get_all is the legacy bulk-export API; a driver collect is its
    # CONTRACT, so it carries the same fail-fast cap pattern as
    # ann.brute_force_topk's broadcast guard: past the cap the caller
    # is pointed at the DataFrame path instead of silently OOMing the
    # driver on a collection that outgrew the legacy shape.
    _GET_ALL_MAX = 100_000

    def get_all(self, coll: str, *, max_rows: int | None = None) -> list[tuple]:
        """Legacy (id, vector, metadata) tuples (vettore.ex:526-560).
        Driver-side by contract; fail-fast past `max_rows` (default
        100k) — use `Collection.all()` (a DataFrame) for anything bigger."""
        cap = self._GET_ALL_MAX if max_rows is None else max_rows
        rows = self._coll(coll).df.limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"get_all would collect more than {cap} rows to the driver; "
                "this legacy facade is for small collections — use "
                "Collection.all() / .df (a DataFrame, no collect) or raise "
                "max_rows explicitly"
            )
        return [
            (r["id"], list(r["vector"]) if r["vector"] is not None else None, r["metadata"])
            for r in rows
        ]

    def similarity_search(self, coll: str, query: list[float], limit: int = 10) -> list[tuple]:
        """Legacy (id, score) pairs."""
        rows = self._coll(coll).search(query, limit=limit).collect()
        return [(r["id"], r["score"]) for r in rows]

    def rerank(
        self,
        coll: str,
        query: list[float],
        *,
        alpha: float = 0.5,
        limit: int = 10,
        max_rows: int | None = None,
    ) -> list[tuple]:
        """MMR over the whole collection (vettore.ex:592-618). The greedy
        MMR loop is driver-side by contract (SURVEY §2.10) and collects
        ids PLUS full vectors — strictly more per row than `get_all` — so
        it carries the SAME fail-fast cap (default 100k): past the cap
        the legacy whole-collection shape would silently OOM the driver.
        Production shape for big collections: `Collection.search(query,
        limit=N)` for a bounded top-N, then `mmr_rerank` over that."""
        from vettore_spark.operators.rerank import mmr_rerank

        c = self._coll(coll)
        cap = self._GET_ALL_MAX if max_rows is None else max_rows
        # Single-snapshot pool (r10 advice): searching with limit=cap+1 and
        # letting mmr_rerank's max_rows check fire when cap+1 rows come
        # back derives the pool AND the cap check from ONE collect — a
        # separate count() first was a TOCTOU (rows inserted between the
        # count and the search were silently excluded from the MMR pool,
        # and a shrink wasted cap headroom). The hydrate/sort/greedy logic
        # lives ONLY in mmr_rerank — this facade adds just the cap policy
        # and the facade-specific error text.
        top = c.search(query, limit=cap + 1)
        try:
            return mmr_rerank(
                top, c.df, metric=c.config.metric, alpha=alpha, k=limit,
                max_rows=cap,
            )
        except ValueError as e:
            if "max_rows" not in str(e):
                raise
            raise ValueError(
                f"rerank would collect more than {cap} rows (ids + full "
                "vectors) to the driver; this legacy facade reranks the "
                "WHOLE collection — for big collections use "
                "Collection.search(query, limit=N) and mmr_rerank over "
                "the bounded top-N, or raise max_rows explicitly"
            ) from e

    def delete(self, coll: str, id_: str) -> "Vettore":
        self._coll(coll).delete(id_)
        return self

    def delete_collection(self, name: str) -> "Vettore":
        self._collections.pop(name, None)
        return self

    def collections(self) -> list[str]:
        return sorted(self._collections)
