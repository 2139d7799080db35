"""Scaling harness: run the heavy round-2 operators at 1x/4x/16x the sf0.1
corpus (replicated with shifted ids — replication also creates realistic
duplicate families for the dedup/split ops) and print time ratios.

Cold per (op, scale): the derived-index persist registry is cleared so
index build cost is included. Linear cost would show ~16x at 16x data;
fixed driver/JVM costs dominate small scales, so sublinear ratios are
expected — what matters is the ABSENCE of super-linear blowup.

Usage: cd /root/repo && python tools/scalebench.py [op ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OFFSET = 10_000_000


def replicated(df, k: int, id_col: str):
    parts = [
        df.withColumn(id_col, F.col(id_col) + F.lit(i * OFFSET)) for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> int:
    only = set(sys.argv[1:])
    spark = session("vettore-spark-scalebench")

    from vettore_spark.operators import dedup as D
    from vettore_spark.operators import pipeline as PL
    from vettore_spark.operators import retrieval as RT
    from vettore_spark.operators import sampling as SMP
    from vettore_spark.operators import text as TX
    from vettore_spark.plans import cache as PC

    docs0 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    part0 = spark.read.parquet(f"{SF_DIR}/part.parquet")
    emb0 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def op_ngram(docs):
        # the posting-list cap is a CORPUS-RELATIVE knob: replicating the
        # corpus k-fold multiplies every df by k, so a fixed cap silently
        # empties the result at higher scales (rows=0) — scale it with k
        return D.ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, max_shingle_df=100 * CURRENT_K
        )

    def op_bm25_batch(docs):
        q = docs.sparkSession.createDataFrame(
            [(0, ["spark", "join", "window"]), (1, ["table", "scan"]),
             (2, ["merge", "sort", "batch", "stream"])],
            ["query_id", "terms"],
        )
        return RT.bm25_batch_topk(docs, q, k=10)

    def op_charlm(docs):
        return TX.charlm_trigram_scores(docs)

    def op_decontaminate(docs):
        bench = docs0.filter(F.col("source") == "src0")  # fixed eval set
        return PL.decontaminate(
            docs.filter(F.col("source") != "src0"), bench, n=8
        )

    def op_leakage_split(docs):
        pairs = D.minhash_lsh_pairs(
            docs, n=3, num_perm=64, bands=16, threshold=0.8
        )
        return SMP.leakage_safe_split(docs.select("doc_id"), pairs)

    def op_fuzzy(_docs):
        return D.fuzzy_value_pairs(
            replicated(part0, CURRENT_K, "p_partkey"), value_col="p_name"
        )

    def op_substring(docs):
        return D.substring_gram_pairs(docs, k=40, max_gram_df=50)

    def op_dsir(docs):
        from vettore_spark.operators import selection as SEL

        return SEL.dsir_logratio_weights(docs, F.col("lang") == "en")

    def op_mlm(docs):
        from vettore_spark.operators.text import mlm_mask_tokens

        return mlm_mask_tokens(docs, mask_rate=0.15)

    def op_diversity(docs):
        from vettore_spark.operators.text import distinct_ngram_diversity

        return distinct_ngram_diversity(docs, group_col="lang")

    def op_minhash(docs):
        return D.minhash_lsh_pairs(
            docs, n=3, num_perm=64, bands=16, threshold=0.5,
            max_bucket_size=1000 * CURRENT_K,
        )

    def op_simhash(docs):
        return D.simhash_pairs(docs, max_hamming=3)

    def op_paragraph(docs):
        return D.paragraph_dedup(docs, window=20)

    def op_banded_neardup(_docs):
        # the r4 blocking rule at corpus scale: n_bits grows with
        # log2(corpus) so expected block population stays bounded
        # (8 bits at 1x, +log2(k)/... -> 12 bits at 16x, 14 at 64x);
        # max_block_size caps any degenerate block
        import math

        emb = replicated(emb0, CURRENT_K, "vec_id")
        bits = 8 + int(math.log2(CURRENT_K) * 0.75)
        return D.embedding_neardup_banded(
            emb, n_bits=bits, n_bands=2, threshold=0.5,
            max_block_size=20_000,
        )

    def op_dedup_against(docs):
        # fixed-size incoming batch vs a k-times-larger ingested corpus:
        # the cost that must stay flat is the batch's, not the corpus's
        # (its band table is persisted derived state)
        return D.minhash_dedup_against(
            docs0.filter(F.col("source") == "src1").select("doc_id", "text"),
            docs, threshold=0.8,
        )

    def op_moments(_docs):
        # one Arrow pass -> (n, Σx, XᵀX) partials; only d + d² doubles per
        # partition cross the shuffle, so time should track the scan alone
        from vettore_spark.encodings import moments as M

        emb = replicated(emb0, CURRENT_K, "vec_id")
        return M.covariance_entries(emb, vector_col="embedding", dim=64)

    def op_drift(_docs):
        # two map-side-combined aggregates over the exploded scan; the
        # shuffle carries n_labels×d partials regardless of corpus size
        from vettore_spark.encodings import moments as M

        emb = replicated(emb0, CURRENT_K, "vec_id")
        return M.moment_stats_fixed(
            emb, group_col="label", vector_col="embedding", dim=64
        )

    # --- radius-search tier ladder (r7): 8 fixed queries, cosine >= 0.3.
    # flat = one best-first scan PER query (8 scans); multi = ONE scan for
    # the whole batch (threshold inside the broadcast join); ivf = probe
    # 3 of the 10 cells per query (cold: includes the assignment pass —
    # the inverted file is persisted derived state in serving, so the
    # warm tier is probes only, measured separately in SCALE.md).
    _rq = emb0.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    _rq_rows = [
        (r["query_id"], [float(x) for x in r["query_vector"]])
        for r in _rq.collect()
    ]
    _centroids = (
        emb0.groupBy("label")
        .agg(
            F.array(*[F.avg(F.col("embedding")[i]) for i in range(64)]).alias(
                "centroid"
            )
        )
        .select(F.col("label").alias("centroid_id"), "centroid")
    )

    def op_range_flat(_docs):
        from vettore_spark.operators import search as S

        emb = replicated(emb0, CURRENT_K, "vec_id")
        out = None
        for qid, qv in _rq_rows:
            o = S.flat_range(
                emb, qv, metric="cosine", min_score=0.3,
                id_col="vec_id", vector_col="embedding",
                pre_normalized=False,
            ).withColumn("query_id", F.lit(qid))
            out = o if out is None else out.unionByName(o)
        return out

    def op_range_multi(_docs):
        from vettore_spark.operators import search as S

        emb = replicated(emb0, CURRENT_K, "vec_id")
        return S.multi_query_range(
            _rq, emb, metric="cosine", min_score=0.3,
            id_col="vec_id", vector_col="embedding", pre_normalized=False,
        )

    def op_range_ivf(_docs):
        from vettore_spark.operators import ann as ANN

        emb = replicated(emb0, CURRENT_K, "vec_id")
        return ANN.ivf_range(
            emb, _rq, centroids=_centroids, n_probe=3, min_score=0.3,
            id_col="vec_id", vector_col="embedding",
        )

    # --- index BUILD costs (r7 verdict #5): at 100 TB the build is the
    # dominant batch job, so its scaling curve matters as much as the
    # serving path's. Mirrors the reference's build-size sweep
    # (bench/performance.md:9-35, sizes {1k,10k,100k}); here sizes are
    # 1x/16x/64x the sf corpus via replication, cold (PC.clear() per run).
    def op_hnsw_build(_docs):
        # one graph per hash shard, built in a single mapInPandas pass:
        # work is O(rows * ef_construction * log rows) spread over shards,
        # shuffle is the repartition scan only, output O(n_shards) blobs
        from vettore_spark.operators import hnsw as H

        emb = replicated(emb0, CURRENT_K, "vec_id")
        src = emb.select(
            F.col("vec_id").cast("string").alias("id"),
            F.col("embedding").cast("array<double>").alias("vector"),
        )
        return H.build_graph_shards(
            src, metric="cosine", id_col="id", vector_col="vector",
            num_partitions=32,
        )

    def op_ivf_train(_docs):
        # distributed MLlib KMeans (kmeans|| init): per-iteration cost is
        # one corpus scan + O(k*d) reduce — the path when even a training
        # sample exceeds one machine
        from vettore_spark.operators.mllib_lsh import kmeans_centroids

        emb = replicated(emb0, CURRENT_K, "vec_id")
        return kmeans_centroids(emb, k=32, vector_col="embedding")

    def op_pq_train_encode(_docs):
        # codebook train is a FIXED-size driver job (deterministic 2000-row
        # sample; more data does not grow it) — what scales is the one-pass
        # Arrow encode of the corpus, so the curve should track the scan
        import numpy as np

        from vettore_spark.operators import pq as PQ

        emb = replicated(emb0, CURRENT_K, "vec_id")
        samp = np.array(
            [
                r["embedding"]
                for r in emb0.select("vec_id", "embedding")
                .orderBy("vec_id")
                .limit(2000)
                .collect()
            ],
            dtype=np.float64,
        )
        books = PQ.pq_train_kmeans(samp, m=8)
        return PQ.pq_encode(emb, books, id_col="vec_id", vector_col="embedding")

    OPS = {
        "hnsw_shard_build": op_hnsw_build,
        "ivf_kmeans_train": op_ivf_train,
        "pq_train_encode": op_pq_train_encode,
        "range_flat_x8": op_range_flat,
        "range_multi_x8": op_range_multi,
        "range_ivf_x8": op_range_ivf,
        "banded_neardup": op_banded_neardup,
        "moments_covariance": op_moments,
        "drift_stats": op_drift,
        "dedup_against_neardup": op_dedup_against,
        "paragraph_dedup": op_paragraph,
        "minhash_lsh": op_minhash,
        "simhash": op_simhash,
        "ngram_jaccard": op_ngram,
        "bm25_batch": op_bm25_batch,
        "charlm": op_charlm,
        "decontaminate": op_decontaminate,
        "leakage_split": op_leakage_split,
        "fuzzy_values": op_fuzzy,
        "substring_grams": op_substring,
        "dsir_weights": op_dsir,
        "mlm_masking": op_mlm,
        "ngram_diversity": op_diversity,
    }

    global CURRENT_K
    results: dict[str, dict[int, float]] = {}
    for name, fn in OPS.items():
        if only and name not in only:
            continue
        results[name] = {}
        scales = tuple(
            int(x)
            for x in os.environ.get("SCALEBENCH_SCALES", "1,4,16").split(",")
        )
        for k in scales:
            CURRENT_K = k
            PC.clear()  # cold: include index/persist build
            docs = replicated(docs0, k, "doc_id")
            t0 = time.time()
            n = fn(docs).count()
            dt = time.time() - t0
            results[name][k] = dt
            print(f"{name:16s} {k:2d}x  {dt:7.2f}s  rows={n}", flush=True)
        r = results[name]
        top = max(r)
        print(f"{name:16s} ratio{top}x = {r[top] / r[min(r)]:.1f}x", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
