"""Recall-vs-cost curves for the approximate search family, mirroring the
reference bench's overlap@k preflight (bench/search_modes_bench.exs): for a
sample of query vectors, exact brute-force top-10 is ground truth and every
approximate mode is swept over its accuracy knob.

Prints one markdown table per mode: param, mean overlap@10, seconds.
Usage: cd /root/repo && python tools/recallbench.py [n_queries]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = 10


def main() -> int:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = session("vettore-spark-recallbench")

    from pyspark.sql import types as T

    from vettore_spark.operators import ann as ANN
    from vettore_spark.operators import hnsw as H
    from vettore_spark.operators.mllib_lsh import kmeans_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qrows = emb.orderBy("vec_id").limit(n_queries).collect()
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id long, query_vector array<double>",
    )

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = topk_sets(
        ANN.brute_force_topk(emb, queries, k=K, metric="cosine")
        .withColumn("query_id", F.col("query_id").cast("long"))
    )

    def overlap(approx):
        vals = [
            len(exact[q] & approx.get(q, set())) / max(len(exact[q]), 1)
            for q in exact
        ]
        return sum(vals) / len(vals)

    # --- IVF: n_probe sweep (16 cells) -----------------------------------
    cents = kmeans_centroids(emb, k=16, vector_col="embedding")
    assigned = ANN.ivf_assign(emb, centroids=cents)
    print(f"\nIVF (16 cells, {n_queries} queries, overlap@{K} vs exact)\n")
    print("| n_probe | overlap@10 | sec |\n| --- | --- | --- |")
    for n_probe in (1, 2, 4, 8, 16):
        t0 = time.time()
        got = topk_sets(
            ANN.ivf_topk(
                emb, queries, centroids=cents, assigned=assigned,
                n_probe=n_probe, k=K,
            ).withColumn("query_id", F.col("query_id").cast("long"))
        )
        print(f"| {n_probe} | {overlap(got):.3f} | {time.time() - t0:.2f} |")

    # --- HNSW: ef_search sweep --------------------------------------------
    shards = H.build_graph_shards(
        emb, metric="cosine", params=H.HnswParams(),
        id_col="vec_id", vector_col="embedding", num_partitions=8,
    )
    shards.count()  # build once outside the timed sweeps
    print(f"\nHNSW (8 shards, {n_queries} queries, overlap@{K} vs exact)\n")
    print("| ef_search | overlap@10 | sec |\n| --- | --- | --- |")
    qlist = [(str(int(r["vec_id"])), [float(x) for x in r["embedding"]])
             for r in qrows]
    for ef in (16, 32, 64, 128, 256):
        t0 = time.time()
        res = H.search_graph_shards(
            shards, qlist, metric="cosine", k=K, ef_search=ef,
            id_col="vec_id", id_type=T.LongType(),
        )
        got = {}
        for r in res.collect():
            got.setdefault(int(r["query_id"]), set()).add(r["vec_id"])
        print(f"| {ef} | {overlap(got):.3f} | {time.time() - t0:.2f} |")

    # --- PQ: pure-ADC m sweep + two-stage candidates sweep ----------------
    import numpy as np

    from vettore_spark.operators import pq as PQ

    sample = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    exact_l2 = topk_sets(
        ANN.brute_force_topk(emb, queries, k=K, metric="l2")
        .withColumn("query_id", F.col("query_id").cast("long"))
    )

    def overlap_l2(approx):
        vals = [
            len(exact_l2[q] & approx.get(q, set())) / max(len(exact_l2[q]), 1)
            for q in exact_l2
        ]
        return sum(vals) / len(vals)

    print(f"\nPQ pure-ADC (256 codes, {n_queries} queries, overlap@{K} vs exact L2)\n")
    print("| m (subspaces) | compression | overlap@10 | sec |\n| --- | --- | --- | --- |")
    for m in (2, 4, 8, 16):
        books = PQ.pq_train_kmeans(sample, m=m)
        codes = PQ.pq_encode(emb, books)
        t0 = time.time()
        got = topk_sets(
            PQ.pq_adc_topk(codes, queries, books, k=K)
            .withColumn("query_id", F.col("query_id").cast("long"))
        )
        ratio = 64 * 4 // m  # f32 bytes per vector / code bytes
        print(f"| {m} | {ratio}x | {overlap_l2(got):.3f} | {time.time() - t0:.2f} |")

    books8 = PQ.pq_train_kmeans(sample, m=8)
    print(f"\nPQ two-stage rerank (m=8, overlap@{K} vs exact L2)\n")
    print("| candidates | overlap@10 | sec |\n| --- | --- | --- |")
    for cand in (20, 50, 100, 200):
        t0 = time.time()
        got = topk_sets(
            PQ.pq_search(emb, queries, books8, candidates=cand, k=K, metric="l2")
            .withColumn("query_id", F.col("query_id").cast("long"))
        )
        print(f"| {cand} | {overlap_l2(got):.3f} | {time.time() - t0:.2f} |")

    # --- IVF-PQ: n_probe sweep at fixed m=8, 16 coarse cells --------------
    coarse, books = PQ.ivfpq_train(sample, n_cells=16, m=8)
    index_df = PQ.ivfpq_encode(emb, coarse, books)
    index_df.persist().count()
    print(f"\nIVF-PQ pure-ADC (16 cells, m=8, overlap@{K} vs exact L2)\n")
    print("| n_probe | overlap@10 | sec |\n| --- | --- | --- |")
    for n_probe in (1, 2, 4, 8, 16):
        t0 = time.time()
        got = topk_sets(
            PQ.ivfpq_topk(index_df, queries, coarse, books,
                          n_probe=n_probe, k=K)
            .withColumn("query_id", F.col("query_id").cast("long"))
        )
        print(f"| {n_probe} | {overlap_l2(got):.3f} | {time.time() - t0:.2f} |")

    # --- blocked mutual-kNN: (n_bits, n_bands) sweep vs the exact graph ---
    # pair-level recall of mutual_knn_pairs over the sign-prefix blocked
    # edge table (SCALE.md r8); work ratio = n_bands / 2^n_bits of the
    # exact grid's pair count. COLD per config (persist registry cleared).
    from vettore_spark.plans import cache as PC

    PC.clear()
    t0 = time.time()
    exact_pairs = {
        (r["src"], r["dst"])
        for r in ANN.mutual_knn_pairs(emb, k=3).collect()
    }
    t_exact = time.time() - t0
    print(
        f"\nBlocked mutual-kNN (k=3, pair recall vs exact "
        f"{len(exact_pairs)} pairs / {t_exact:.2f}s)\n"
    )
    print("| n_bits | n_bands | recall | work ratio | sec |\n| --- | --- | --- | --- | --- |")
    for bits, bands in ((4, 1), (6, 1), (8, 1), (4, 4), (8, 2), (2, 8)):
        PC.clear()
        t0 = time.time()
        got = {
            (r["src"], r["dst"])
            for r in ANN.mutual_knn_pairs(
                emb, k=3,
                knn=ANN.blocked_knn_topk(emb, k=3, n_bits=bits, n_bands=bands),
            ).collect()
        }
        rec = len(got & exact_pairs) / max(len(exact_pairs), 1)
        print(
            f"| {bits} | {bands} | {rec:.3f} | {bands / 2**bits:.3f} "
            f"| {time.time() - t0:.2f} |"
        )

    # --- MUVERA FDE: candidate-depth sweep (r9 verdict #7) ----------------
    # recall@5 of the FDE-candidates -> exact-MaxSim-rerank two-stage flow
    # vs the exact full-corpus MaxSim, swept over the stage-1 candidate
    # count to locate the knee between the long-flat cand20=0.6 floor and
    # the cand100=1.0 ceiling — the evidence behind default_candidates'
    # max(100, ...) choice. Same doc construction as bench.py's muvera
    # block: 8-token multi-vector groups of the embeddings table.
    import numpy as np

    from vettore_spark.encodings import muvera as MU
    from vettore_spark.operators import multivector as MV
    from vettore_spark.operators import search as SRCH

    cfg = MU.MuveraConfig(
        dimension=64, num_repetitions=2, num_simhash_projections=3,
        seed=42, projection_dimension=32,
    )
    docs_mv = (
        emb.withColumn("doc_id", (F.col("vec_id") / 8).cast("long"))
        .groupBy("doc_id")
        .agg(F.collect_list("embedding").alias("vectors"))
        .persist()
    )
    n_docs = docs_mv.count()
    qtok = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 2).orderBy("vec_id").collect()
    ]
    qf = [
        float(x) for x in MU.encode_query(np.array(qtok, dtype=np.float32), cfg)
    ]
    fdes = (
        docs_mv.withColumn("fde", MU.fde_column("vectors", cfg, "document"))
        .select("doc_id", "fde")
        .persist()
    )
    fdes.count()
    exact5 = {
        r["doc_id"]
        for r in MV.maxsim_topk(
            docs_mv, qtok, metric="cosine", k=5,
            id_col="doc_id", vectors_col="vectors", vector_col=None,
        ).collect()
    }
    print(f"\nMUVERA FDE two-stage (recall@5 vs exact MaxSim, {n_docs} docs)\n")
    print("| candidates | recall@5 | sec |\n| --- | --- | --- |")
    for cand in (20, 40, 60, 80, 100):
        t0 = time.time()
        cset = SRCH.flat_topk(
            fdes, qf, metric="inner_product", k=cand,
            id_col="doc_id", vector_col="fde",
        ).select("doc_id")
        pruned = docs_mv.join(F.broadcast(cset), "doc_id", "left_semi")
        got = {
            r["doc_id"]
            for r in MV.maxsim_topk(
                pruned, qtok, metric="cosine", k=5,
                id_col="doc_id", vectors_col="vectors", vector_col=None,
            ).collect()
        }
        rec = len(exact5 & got) / max(len(exact5), 1)
        print(f"| {cand} | {rec:.3f} | {time.time() - t0:.2f} |")
    fdes.unpersist()
    docs_mv.unpersist()

    # --- MUVERA FDE on the CLUSTERED corpus (r10 verdict #7) --------------
    # The sweep above runs on the sf embeddings corpus, which is ISOTROPIC
    # — FDE inner products sit near the jl/pca data floor, so the knee
    # closes late (80->100). Real embedding corpora are clustered; this
    # sweep reruns the identical two-stage flow on the planted 32-cluster
    # fixture (bench.py's @clustered shape: seed 7, n=4000, dim=64, 1%
    # noise) to measure the separation-strong regime, where the FDE proxy
    # should recover the exact top-5 at LOW candidate depths.
    rng = np.random.RandomState(7)
    n_clu, n_pts, dim = 32, 4000, 64
    cents = rng.normal(size=(n_clu, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    # cluster-COHERENT docs: assign per 8-token DOC, not per token — a doc
    # whose tokens span random clusters is isotropic again at the MaxSim
    # level, which is precisely the regime the main sweep already measures
    doc_assign = rng.randint(0, n_clu, size=n_pts // 8)
    assign = np.repeat(doc_assign, 8)
    pts = cents[assign] + 0.01 * rng.normal(size=(n_pts, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    clu = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(n_pts)],
        "vec_id long, embedding array<float>",
    )
    docs_c = (
        clu.withColumn("doc_id", (F.col("vec_id") / 8).cast("long"))
        .groupBy("doc_id")
        .agg(F.collect_list("embedding").alias("vectors"))
        .persist()
    )
    n_docs_c = docs_c.count()
    qtok_c = [[float(x) for x in pts[i]] for i in (0, 1)]
    qf_c = [
        float(x) for x in MU.encode_query(np.array(qtok_c, dtype=np.float32), cfg)
    ]
    fdes_c = (
        docs_c.withColumn("fde", MU.fde_column("vectors", cfg, "document"))
        .select("doc_id", "fde")
        .persist()
    )
    fdes_c.count()
    exact5_c = {
        r["doc_id"]
        for r in MV.maxsim_topk(
            docs_c, qtok_c, metric="cosine", k=5,
            id_col="doc_id", vectors_col="vectors", vector_col=None,
        ).collect()
    }
    print(
        f"\nMUVERA FDE two-stage @clustered (recall@5 vs exact MaxSim, "
        f"{n_docs_c} docs, 32 planted clusters)\n"
    )
    print("| candidates | recall@5 | sec |\n| --- | --- | --- |")
    for cand in (5, 10, 20, 40, 60, 80, 100):
        t0 = time.time()
        cset = SRCH.flat_topk(
            fdes_c, qf_c, metric="inner_product", k=cand,
            id_col="doc_id", vector_col="fde",
        ).select("doc_id")
        pruned = docs_c.join(F.broadcast(cset), "doc_id", "left_semi")
        got = {
            r["doc_id"]
            for r in MV.maxsim_topk(
                pruned, qtok_c, metric="cosine", k=5,
                id_col="doc_id", vectors_col="vectors", vector_col=None,
            ).collect()
        }
        rec = len(exact5_c & got) / max(len(exact5_c), 1)
        print(f"| {cand} | {rec:.3f} | {time.time() - t0:.2f} |")
    fdes_c.unpersist()

    # --- MUVERA count-sketch final projection sweep (r11 verdict #6) ------
    # Both knee sweeps above run WITHOUT final_projection_dimension; the E1
    # config key is implemented and unit-tested but its recall cost was
    # unmeasured. The FDE here is 512-dim (2 reps x 8 partitions x 32
    # proj); the sweep reruns the identical clustered two-stage flow with
    # the count-sketch compressing it to 256 (1/2) and 128 (1/4), at the
    # candidate depths bracketing the uncompressed knee.
    print(
        "\nMUVERA final-projection sweep @clustered "
        "(512-dim FDE count-sketched; recall@5 vs exact MaxSim)\n"
    )
    print(
        "| final_dim | candidates | recall@5 | sec |\n"
        "| --- | --- | --- | --- |"
    )
    for fdim in (256, 128):
        cfg_f = MU.MuveraConfig(
            dimension=64, num_repetitions=2, num_simhash_projections=3,
            seed=42, projection_dimension=32,
            final_projection_dimension=fdim,
        )
        qf_f = [
            float(x)
            for x in MU.encode_query(np.array(qtok_c, dtype=np.float32), cfg_f)
        ]
        fdes_f = (
            docs_c.withColumn("fde", MU.fde_column("vectors", cfg_f, "document"))
            .select("doc_id", "fde")
            .persist()
        )
        fdes_f.count()
        for cand in (5, 10, 20, 40, 100):
            t0 = time.time()
            cset = SRCH.flat_topk(
                fdes_f, qf_f, metric="inner_product", k=cand,
                id_col="doc_id", vector_col="fde",
            ).select("doc_id")
            pruned = docs_c.join(F.broadcast(cset), "doc_id", "left_semi")
            got = {
                r["doc_id"]
                for r in MV.maxsim_topk(
                    pruned, qtok_c, metric="cosine", k=5,
                    id_col="doc_id", vectors_col="vectors", vector_col=None,
                ).collect()
            }
            rec = len(exact5_c & got) / max(len(exact5_c), 1)
            print(f"| {fdim} | {cand} | {rec:.3f} | {time.time() - t0:.2f} |")
        fdes_f.unpersist()
    docs_c.unpersist()

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
