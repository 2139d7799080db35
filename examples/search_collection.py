"""Vector-collection walkthrough: every search mode the engine exposes,
driven against the sample embeddings table — exact flat, binary-quantized
two-stage, Matryoshka funnel, hybrid, HNSW, IVF, SQ8, PQ, each with the
same `where=` metadata filter, plus snapshot/restore with a warm index.

Run: cd /root/repo && python examples/search_collection.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("search-collection-example")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from vettore_spark import Collection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = [
        {
            "id": str(r["vec_id"]),
            "vector": [float(x) for x in r["embedding"]],
            "metadata": {"label": str(r["label"])},
        }
        for r in emb.collect()
    ]
    c = Collection.create(spark, "walkthrough", 64, metric="cosine")
    c.put_many(rows)
    q = rows[0]["vector"]
    pred = "metadata['label'] = '0'"

    def ids(df):
        return [r["id"] for r in df.collect()]

    print(f"collection: {c.count()} vectors, metric=cosine")
    print(f"exact top-5:        {ids(c.search(q, limit=5))}")
    print(f"exact filtered:     {ids(c.search(q, limit=5, where=pred))}")
    print(f"quantized two-stage:{ids(c.quantized_search(q, limit=5, candidates=50))}")
    print(f"funnel (matryoshka):{ids(c.funnel_search(q, limit=5))}")
    print(f"hybrid:             {ids(c.hybrid_search(q, limit=5))}")
    print(f"hnsw:               {ids(c.hnsw_search(q, limit=5))}")
    print(f"hnsw filtered:      {ids(c.hnsw_search(q, limit=5, where=pred))}")
    print(f"ivf (4 cells/2 probe): {ids(c.ivf_search(q, limit=5, n_cells=4))}")
    print(f"ivf filtered:       {ids(c.ivf_search(q, limit=5, n_cells=4, n_probe=4, where=pred))}")
    print(f"sq8:                {ids(c.sq_search(q, limit=5))}")
    print(f"pq:                 {ids(c.pq_search(q, limit=5))}")

    # snapshot with the resident HNSW index; restore starts warm
    with tempfile.TemporaryDirectory(dir="/root/repo") as tmp:
        path = os.path.join(tmp, "snap")
        c.snapshot(path, include_indexes=True)
        c2 = Collection.load_snapshot(spark, path)
        print(f"restored:           {c2.count()} vectors, "
              f"warm index: {any(k[0] == 'hnsw' for k in c2._indexes)}")
        print(f"restored hnsw:      {ids(c2.hnsw_search(q, limit=5))}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
