"""Benchmark harness: runs EVERY registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall-clock seconds. "value" sums only the
HEADLINE set (stable round-over-round comparisons); the remaining
registry queries are timed under the identical protocol and reported in
the same "queries" map with their sum in "full_registry_rest_sec".

`python bench.py QUERY [QUERY ...]` times only the named queries under the
same protocol and prints one record of just their per-query blocks. A
session-conf A/B is two such runs from two checkouts that differ only in
`vettore_spark/session.py::ENGINE_SESSION_DEFAULTS`.

`session(app)` is the one measurement session (SPARK_GRAFT_CPUS defaults
to this host's core count) and `sample(fn, spark, sf_dir)` the one timing
protocol; the scripts under tools/ open their sessions through it.

Mirrors the reference's bench shape (bench/search_modes_bench.exs): exact
flat search is the baseline; every approximate mode runs over the same data.
Timing methodology also mirrors the reference (Benchee `warmup: 2` at
bench/vettore_bench.exs / bench/performance.md:9-35): each scenario runs
once untimed before the timed run, so one-time costs — Catalyst codegen
compilation (janino), JIT warmup of interpreted higher-order-function
paths, Python worker spin-up — land in the warmup, and the timed number is
steady-state throughput. On a long-lived cluster that is the number that
matters; the one-time compile is amortized over every subsequent run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


HEADLINE = [
    "flat_topk_l2",
    "flat_topk_cosine",
    "filtered_topk",
    "multi_query_topk",
    "knn_graph",
    "quantized_topk",
    "funnel_topk",
    "hybrid_topk",
    "hnsw_topk",
    "sq_int8_topk",
    "ann_ivf_topk",
    "ann_brp_lsh_topk",
    "muvera_fde_retrieval",
    "maxsim_label_topk",
    "mean_vector_by_label",
    "normalize_stats",
    "pq_adc_topk",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "dedup_keep_best",
    "hard_negatives",
    "charlm_quality",
    "ivf_delete_search",
    "simhash_pairs",
    "embedding_neardup",
    "neardup_clusters",
    "text_stats",
    "doc_fingerprint",
    "tfidf_top_terms",
    "bm25_topk",
    "bm25_batch",
    "rrf_fusion",
    "corpus_stats",
    "label_dispersion",
    "semantic_dedup_pairs",
    "fuzzy_value_pairs",
    "leakage_safe_split",
    "hnsw_insert_search",
    "doc_chunks",
    "decontaminate",
    "pii_redact",
    "repetition_filter",
    "stratified_sample",
    "train_shards",
    "training_pipeline",
    "media_frame_sample",
    "media_image_features",
    "media_audio_features",
    "events_hourly",
    "events_asof_join",
    "events_range_join",
    "events_time_rollup",
    "events_anomaly",
    "user_sessions",
    "hashed_embedding",
    "dsir_weights",
    "domain_mixture",
    "substring_dedup",
    "semdedup_prune",
    "user_event_features",
    "bpe_pair_stats",
    "text_embed",
    "curation_pipeline",
    "token_budget_select",
    "calibrated_quality",
    "media_ahash_pairs",
    "retrieval_pipeline",
    "mlm_masking",
    "multi_query_quantized",
    "tpch_q1_pricing",
    "tpch_q6_revenue",
    "tpch_q14_promo",
    "supplier_nation_revenue",
    "lineitem_rollup",
    "shipmode_priority",
    "paragraph_dedup",
    "cross_corpus_dedup",
    "text_normalize",
    "tpch_q3_topk",
    "tpch_q19_bands",
    "blocklist_filter",
    "embedding_neardup_blocked",
    "tpch_q4_exists",
    "paragraph_dedup_doc",
    "tpch_q10_returns",
    "tpch_q18_volume",
    "minhash_dedup_against",
    "salted_event_rollup",
    "salted_user_join",
    "tpch_q5_local",
    "tpch_q7_nations",
    "tpch_q9_profit",
    "tpch_q17_smallqty",
    "event_funnel",
    "user_retention",
    "jl_projection",
    "jl_prefilter_topk",
    "tpch_q15_topsupp",
    "tpch_q22_noorders",
    "events_value_quantiles",
    "table_profile",
    "table_profile_sketch",
    "ivf_insert_search",
    "hnsw_batch_insert_search",
    "tpch_q13_custdist",
    "tpch_q16_suppcnt",
    "c4_line_filter",
    "events_skew_report",
    "tpch_q2_mincost",
    "tpch_q8_mktshare",
    "tpch_q11_important",
    "tpch_q12_lateship",
    "tpch_q20_excess",
    "tpch_q21_waiting",
    "kmv_distinct_daily",
    "kmv_shingle_overlap",
    "cms_token_hitters",
    "weighted_doc_sample",
    "textrank_keywords",
    "tpch_q17_bloom",
    "store_attached_topk",
    "events_quantile_sketch",
    "approx_event_rollup",
    "zorder_cluster_profile",
    "range_search_cosine",
    "kmv_weekly_rollup",
    "multi_query_range",
    "ivf_range_search",
    "ivf_health_report",
    "embedding_covariance",
    "pca_prefilter_topk",
    "embedding_drift_by_label",
]


# Core-count scaling probe (r14 verdict #7): the driver benches the same
# tree at a LOWER core count and computes per-query ratios by intersecting
# the two compact lines' `queries` maps. Top-N-slowest maps are host-noise-
# ordered, so the two runs shared no names and scaling.per_query came back
# empty. These rows are therefore ALWAYS in the compact line — same names
# at every core count, surviving every trim stage — picked to span the
# engine's families (ANN/graph, pipelines, streaming-adjacent profile,
# sketches, TPC-H joins, text/dedup) with non-trivial runtimes.
SCALING_PROBE = (
    "knn_graph",
    "ivf_insert_search",
    "retrieval_pipeline",
    "textrank_distributed",
    "table_profile_sketch",
    "kmv_shingle_overlap",
    "tpch_q9_profit",
    "tpch_q17_bloom",
    "bm25_batch",
    "semantic_dedup_pairs",
    "substring_dedup",
    "training_pipeline",
)


def _probe_first(slowest: dict, timings: dict, n_slowest: int) -> dict:
    """The probe rows plus the n_slowest slowest non-probe rows."""
    out = {k: timings[k] for k in SCALING_PROBE if k in timings}
    for k, v in slowest.items():
        if len(out) >= len(SCALING_PROBE) + n_slowest:
            break
        out.setdefault(k, v)
    return out


def session(app: str) -> SparkSession:
    """The measurement session: local[$SPARK_GRAFT_CPUS] (default: this
    host's core count) with as many shuffle partitions, AQE on, UI off.

    Engine-level SQL confs (SHJ preference, hugeMethodLimit) are owned by
    the LIBRARY (vettore_spark.session — measurements documented there),
    so every session that runs the engine plans the same way; this only
    sets deployment-side values (master, memory, shuffle partitions)."""
    from vettore_spark import with_engine_defaults

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    spark = (
        with_engine_defaults(SparkSession.builder.master(f"local[{cpus}]"))
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects unless
    # read as long nanos
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def _timed_count(fn, spark, sf_dir: str) -> float:
    t0 = time.time()
    fn(spark, sf_dir).count()
    return time.time() - t0


def sample(fn, spark, sf_dir: str) -> list[float]:
    """Timed `.count()` samples of one query: one untimed warmup
    (Benchee-style), then 3 timed runs. The box is shared with other
    workloads, so a single sample can be 3-4x off; the median is the
    robust statistic. When the 3 samples themselves spread past 2x (GC
    pause, a concurrent job), take 2 more — the median of 5 discards both
    tails."""
    fn(spark, sf_dir).count()
    samples = [_timed_count(fn, spark, sf_dir) for _ in range(3)]
    if max(samples) > 2.0 * max(min(samples), 1e-9):
        samples += [_timed_count(fn, spark, sf_dir) for _ in range(2)]
    return samples


def _median(s: list[float]) -> float:
    return sorted(s)[len(s) // 2]


def _mm(s: list[float]) -> list[float]:
    """[min, median, max] of one query's samples."""
    return [round(min(s), 3), round(_median(s), 3), round(max(s), 3)]


def _sf_value(sf_dir: str) -> float | str:
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    return float(sf) if sf.replace(".", "").isdigit() else sf


def compact_bench_line(
    compact: dict,
    *,
    slowest: dict,
    timings: dict,
    spread: dict,
    overlap: dict,
    muvera: dict,
    line_max: int = 1800,
) -> str:
    """Size the final stdout line for the driver's ~2000-byte capture
    window. The trim cascade shrinks the per-query / spread / overlap /
    muvera / recall / ingest / best_of_3 blocks progressively; the
    per-gate `streaming_replay_sec` map is load-bearing driver signal
    (r12 verdict #3 — the r12 record lost it to the old last-resort
    collapse) and now survives EVERY stage, including the final one.
    bench_full.json always has the untrimmed record."""
    b3 = compact.get("best_of_3")
    if isinstance(b3, dict):
        # the selected run's audit maps (per-query, per-gate replay,
        # ingest) NEVER belong in the capped line — they are several KB
        # by construction and live in bench_best_of_3.json; dropping
        # them here (not just at the caller) keeps a future caller from
        # re-bloating the line before the cascade even starts (r14)
        compact["best_of_3"] = {
            k: v
            for k, v in b3.items()
            if k not in ("min_queries", "min_streaming_replay_sec", "min_ingest")
        }
    line = json.dumps(compact)
    if len(line) > line_max:  # stage 1: slowest block 20 -> probe + 6
        compact["queries"] = _probe_first(slowest, timings, 6)
        line = json.dumps(compact)
    if len(line) > line_max:  # stage 2: spread to its 5 widest rows
        compact["spread"] = dict(list(spread.items())[:5])
        line = json.dumps(compact)
    if len(line) > line_max:  # stage 3: muvera/overlap to their verdict keys
        compact["muvera"] = {
            k: muvera[k]
            for k in ("default_candidates", "recall_at_5_default")
            if k in muvera
        }
        compact["overlap_at_10_vs_exact"] = {
            k: v for k, v in sorted(overlap.items(), key=lambda kv: kv[1])[:4]
        }
        line = json.dumps(compact)
    if len(line) > line_max:  # stage 4: spread to 3 widest, queries to probe+2
        compact["spread"] = dict(list(spread.items())[:3])
        compact["queries"] = _probe_first(slowest, timings, 2)
        line = json.dumps(compact)
    if len(line) > line_max:  # stage 5: every secondary block to its verdict
        compact["queries"] = _probe_first(slowest, timings, 0)
        compact["spread"] = dict(list(spread.items())[:1])
        compact["overlap_at_10_vs_exact"] = {
            k: v for k, v in sorted(overlap.items(), key=lambda kv: kv[1])[:2]
        }
        mr = compact.get("mutual_pair_recall")
        if isinstance(mr, dict):
            compact["mutual_pair_recall"] = dict(
                sorted(mr.items(), key=lambda kv: kv[1])[:2]
            )
        ing = compact.get("ingest")
        if isinstance(ing, dict):
            # verdict keys that actually exist in the ingest block (the
            # old "rows_per_sec" key never did, so stage 5 silently
            # emptied the whole block — r14)
            compact["ingest"] = {
                k: ing[k]
                for k in ("put_many_rps", "lookup_rps")
                if k in ing
            }
        b3 = compact.get("best_of_3")
        if isinstance(b3, dict):
            compact["best_of_3"] = {
                k: b3[k]
                for k in ("min_value", "min_stalled_samples", "valid")
                if k in b3
            }
        line = json.dumps(compact)
    if len(line) > line_max:  # stage 6: drop everything secondary entirely
        # (except the scaling probe — the driver's low-core ratios need
        # the same query names present at every core count)
        for k in ("spread", "overlap_at_10_vs_exact",
                  "mutual_pair_recall", "muvera", "ingest"):
            compact.pop(k, None)
        compact["queries"] = _probe_first(slowest, timings, 0)
        line = json.dumps(compact)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from vettore_spark import queries as Q

    qs = Q.queries()
    names = sys.argv[1:]
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {' '.join(unknown)}")
    # host load BEFORE Spark starts: this box is shared, and r8/r9 burned
    # real effort forensically proving a +4.7 s "regression" was a
    # contended run (~±5 s envelope, SCALE.md r9). Stamping the load makes
    # a contended run machine-detectable in the record instead. The START
    # sample is the signal — once the bench runs, the load is ours.
    try:
        load_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        load_start = []

    spark = session("vettore-spark-bench")
    # untimed warmup: JVM/codegen/Python-worker spin-up and parquet footer
    # reads land here, not in the first timed query.
    try:
        qs["flat_topk_cosine"](spark, sf_dir).count()
        for t in ("documents", "lineitem", "events"):
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    except Exception:  # noqa: BLE001
        pass
    # the full registry is timed: HEADLINE (the round-over-round comparable
    # set — "value" sums only these) first, then every other registered
    # query under the same warmup+median protocol, so no query's runtime is
    # invisible between rounds (r6 verdict item #5).
    rest = [n for n in qs if n not in HEADLINE]
    timings: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    for name in names or HEADLINE + rest:
        try:
            all_samples[name] = sample(qs[name], spark, sf_dir)
            timings[name] = round(_median(all_samples[name]), 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench {name} failed: {e}", file=sys.stderr)
            timings[name] = -1.0
    if names:
        # subset run: only the named queries' blocks; the committed
        # full-run record (bench_full.json) is left as it is
        print(json.dumps({
            "metric": "named_queries_total",
            "value": round(sum(t for t in timings.values() if t > 0), 3),
            "unit": "sec",
            "queries": timings,
            "spread": {n: _mm(s) for n, s in all_samples.items()},
            "n_failed": sum(1 for t in timings.values() if t < 0),
            "streaming_replay_sec": dict(sorted(Q.STREAMING_REPLAY_SECONDS.items())),
            "streaming_progress": dict(sorted(Q.STREAMING_REPLAY_PROGRESS.items())),
            "sf": _sf_value(sf_dir),
        }))
        spark.stop()
        return
    total = round(
        sum(t for n, t in timings.items() if t > 0 and n in set(HEADLINE)), 3
    )
    rest_total = round(
        sum(t for n, t in timings.items() if t > 0 and n not in set(HEADLINE)), 3
    )

    # run-to-run stability (the SCALE.md three-run protocol, folded into the
    # driver-visible record): [min, median, max] for the 10 queries with the
    # widest max/min spread — sub-second queries on a shared box are the
    # noisy ones, and this block is what separates "regression" from "host
    # contention" when comparing rounds.
    def _ratio(s: list[float]) -> float:
        return max(s) / max(min(s), 1e-9)

    # the three historically-noisy queries are ALWAYS in the spread block
    # (round-4 verdict: their round-over-round movement needs min/median/
    # max to separate regression from host contention), then the widest
    # max/min ratios fill the remaining slots.
    # hnsw_batch_insert_search joined the pins in r7: its r5->r6 movement
    # (0.51 -> 0.67 s) had no spread evidence either way (r6 verdict #3)
    _PINNED_SPREAD = (
        "semantic_dedup_pairs",
        "hard_negatives",
        "bm25_batch",
        "hnsw_batch_insert_search",
    )
    spread = {
        name: _mm(all_samples[name])
        for name in _PINNED_SPREAD
        if name in all_samples
    }
    for name, s in sorted(all_samples.items(), key=lambda kv: -_ratio(kv[1])):
        if len(spread) >= 10 + len(_PINNED_SPREAD):
            break
        if name not in spread:
            spread[name] = _mm(s)

    # overlap@k of every approximate/two-stage mode vs the exact flat scan
    # with the same metric — the reference bench's preflight invariant
    # (bench/search_modes_bench.exs:193-238): 1.0 expected when candidates
    # cover the corpus.
    overlap: dict[str, float] = {}
    try:
        exact = {r["vec_id"] for r in qs["flat_topk_l2"](spark, sf_dir).collect()}
        for mode in ("quantized_topk", "funnel_topk", "hybrid_topk", "hnsw_topk",
                     "sq_int8_topk"):
            got = {r["vec_id"] for r in qs[mode](spark, sf_dir).collect()}
            overlap[mode] = round(len(exact & got) / max(len(exact), 1), 3)
        # jl/pca prefilter: keys carry the stage-1 candidate depth (the
        # pq_adc_stage1_only treatment, r7 verdict #7) — the gated default
        # (200 = limit*20) is a cheap tier on this unstructured corpus;
        # the sweep row next to it shows the depth that buys full overlap
        from vettore_spark.queries import (
            q_jl_prefilter_topk,
            q_pca_prefilter_topk,
        )

        for label, fn2 in (
            ("jl_prefilter_topk", q_jl_prefilter_topk),
            ("pca_prefilter_topk", q_pca_prefilter_topk),
        ):
            for depth in (200, 800, 2000):
                got = {
                    r["vec_id"]
                    for r in fn2(spark, sf_dir, candidates=depth).collect()
                }
                overlap[f"{label}@cand{depth}"] = round(
                    len(exact & got) / max(len(exact), 1), 3
                )
        # compressed/partitioned ANN modes answer multiple queries; their
        # query 0 is the same vector as the flat baselines' (embedding of
        # vec 0), so overlap@5 against the matching-metric exact top-5
        ex5_l2 = sorted(
            qs["flat_topk_l2"](spark, sf_dir).collect(), key=lambda r: r["distance"]
        )[:5]
        pq0 = {
            r["vec_id"]
            for r in qs["pq_adc_topk"](spark, sf_dir).collect()
            if r["query_id"] == 0
        }
        # pure compressed-domain ranking (m=4, 10 label-mean codes — no
        # rerank stage): low overlap IS the PQ distortion contract, so the
        # key names the stage explicitly; the reranked tier is measured
        # right next to it (r6 verdict #8)
        overlap["pq_adc_stage1_only@5"] = round(
            len({r["vec_id"] for r in ex5_l2} & pq0) / 5, 3
        )
        # the two-stage DEPLOYMENT tier (operators/pq.py::pq_search):
        # k-means-TRAINED codebooks (m=8, <=256 codes/subspace over a
        # deterministic 2000-row sample) + ADC top-100 -> exact rerank.
        # The stage1-only row above deliberately uses the 10-code
        # label-mean books (the oracle-checkable worst case); the trained
        # tier is what a user runs, and it recovers the exact top-5
        # (1.0 at sf0.01 and sf0.1 in the r7 calibration).
        import numpy as np

        from vettore_spark.operators import pq as PQ

        emb_t = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        samp = np.array(
            [
                r["embedding"]
                for r in emb_t.select("vec_id", "embedding")
                .orderBy("vec_id")
                .limit(2000)
                .collect()
            ],
            dtype=np.float64,
        )
        books = PQ.pq_train_kmeans(
            samp, m=8, n_codes=min(256, len(samp) // 4)
        )
        q0 = emb_t.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vector"),
        )
        rer = PQ.pq_search(
            emb_t, q0, books, candidates=100, k=5, metric="l2",
            id_col="vec_id", vector_col="embedding",
        )
        pq_rr = {r["vec_id"] for r in rer.collect()}
        overlap["pq_trained_rerank_topk@5"] = round(
            len({r["vec_id"] for r in ex5_l2} & pq_rr) / 5, 3
        )
        ex5_cos = sorted(
            qs["flat_topk_cosine"](spark, sf_dir).collect(),
            key=lambda r: r["distance"],
        )[:5]
        ivf0 = {
            r["vec_id"]
            for r in qs["ann_ivf_topk"](spark, sf_dir).collect()
            if r["query_id"] == 0
        }
        overlap["ann_ivf_topk@5"] = round(
            len({r["vec_id"] for r in ex5_cos} & ivf0) / 5, 3
        )
    except Exception:  # noqa: BLE001
        pass

    # blocked mutual-kNN recall vs the exact mutual graph — the reference's
    # every-approximate-mode-reports-overlap pattern
    # (bench/search_modes_bench.exs:193-238) applied to the pairing tier:
    # SCALE.md carries the controlled recall curves; THIS block is where the
    # driver bench looks, so the gated variants report their recall at bench
    # sf next to their timings, plus the production-depth 8-bit x 2-band row.
    mutual_recall: dict[str, float] = {}
    try:
        exact_pairs = {
            (r["src"], r["dst"])
            for r in qs["mutual_knn_pairs"](spark, sf_dir).collect()
        }
        if exact_pairs:
            for qname, label in (
                ("mutual_knn_blocked", "blocked@bits4"),
                ("mutual_knn_multiband", "multiband@bits3x2"),
                ("mutual_knn_cellblocked", "cellblocked@label"),
            ):
                got = {
                    (r["src"], r["dst"])
                    for r in qs[qname](spark, sf_dir).collect()
                }
                mutual_recall[label] = round(
                    len(got & exact_pairs) / len(exact_pairs), 3
                )
            from vettore_spark.operators import ann as ANN

            emb_mr = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            edges = ANN.blocked_knn_topk(
                emb_mr, k=3, metric="cosine", n_bits=8, n_bands=2,
                id_col="vec_id", vector_col="embedding",
            )
            prs = ANN.mutual_knn_pairs(
                emb_mr, k=3, metric="cosine", id_col="vec_id",
                vector_col="embedding", knn=edges,
            )
            got = {(r["src"], r["dst"]) for r in prs.collect()}
            mutual_recall["blocked@bits8bands2"] = round(
                len(got & exact_pairs) / len(exact_pairs), 3
            )
    except Exception as e:  # noqa: BLE001
        print(f"bench mutual recall failed: {e}", file=sys.stderr)

    # the sf embeddings corpus is ISOTROPIC, so the rows above sit at the
    # SimHash data floor by construction (p_bit^n_bits — 0.135 at 4 bits
    # is the bound, third appearance of the jl/pca floor effect). The
    # @clustered rows below measure the tier at its real operating point
    # — a PLANTED-cluster corpus (32 clusters, n=4000, the SCALE.md r8/r9
    # fixture shape, deterministic seed) — so the driver record carries
    # both the floor and the regime real embedding corpora live in
    # (r9 verdict #3). Note lives in mutual_pair_recall_note (its own
    # key: the recall map stays all-float for consumers, r9 advice).
    try:
        import numpy as np

        from vettore_spark.operators import ann as ANN

        rng = np.random.RandomState(7)
        n_clu, n_pts, dim = 32, 4000, 64
        cents = rng.normal(size=(n_clu, dim))
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        assign = rng.randint(0, n_clu, size=n_pts)
        pts = cents[assign] + 0.01 * rng.normal(size=(n_pts, dim))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        clu = spark.createDataFrame(
            [
                (int(i), int(assign[i]), [float(x) for x in pts[i]])
                for i in range(n_pts)
            ],
            "vec_id long, label int, embedding array<float>",
        ).persist()
        clu.count()
        mk = dict(k=3, metric="cosine", id_col="vec_id", vector_col="embedding")
        exact_c = {
            (r["src"], r["dst"])
            for r in ANN.mutual_knn_pairs(clu, **mk).collect()
        }
        for label, kw in (
            ("blocked@clustered", dict(n_bits=8, n_bands=2)),
            ("cellblocked@clustered", dict(block_col="label")),
        ):
            edges = ANN.blocked_knn_topk(clu, **mk, **kw)
            got = {
                (r["src"], r["dst"])
                for r in ANN.mutual_knn_pairs(clu, **mk, knn=edges).collect()
            }
            mutual_recall[label] = round(len(got & exact_c) / len(exact_c), 3)
        clu.unpersist()
    except Exception as e:  # noqa: BLE001
        print(f"bench clustered recall failed: {e}", file=sys.stderr)

    # MUVERA at bench scale (the one reference bench scenario —
    # search_modes_bench.exs MUVERA rows — that had no sf0.1 timing until
    # r7): docs = 8-token multi-vector groups of the embeddings table,
    # timed stages = doc-FDE encode (the ingest-side cost), FDE
    # inner-product candidates + exact MaxSim rerank (the query-side
    # cost), and the exact full-corpus MaxSim baseline; recall@5 of the
    # two-stage flow vs that baseline.
    muvera = {}
    try:
        import numpy as np

        from vettore_spark.encodings import muvera as MU
        from vettore_spark.operators import multivector as MV
        from vettore_spark.operators import search as SRCH

        cfg = MU.MuveraConfig(
            dimension=64, num_repetitions=2, num_simhash_projections=3,
            seed=42, projection_dimension=32,
        )
        emb_t = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        docs_mv = (
            emb_t.withColumn("doc_id", (F.col("vec_id") / 8).cast("long"))
            .groupBy("doc_id")
            .agg(F.collect_list("embedding").alias("vectors"))
            .persist()
        )
        n_docs = docs_mv.count()
        qtok = [
            [float(x) for x in r["embedding"]]
            for r in emb_t.filter(F.col("vec_id") < 2)
            .orderBy("vec_id")
            .collect()
        ]
        qf = [
            float(x)
            for x in MU.encode_query(np.array(qtok, dtype=np.float32), cfg)
        ]

        def encode():
            return (
                docs_mv.withColumn("fde", MU.fde_column("vectors", cfg, "document"))
                .select("doc_id", "fde")
            )

        encode().agg(F.count("fde")).first()  # warmup
        t0 = time.time()
        encode().agg(F.count("fde")).first()
        muvera["encode_docs_sec"] = round(time.time() - t0, 3)
        muvera["n_docs"] = n_docs

        fdes = encode().persist()
        fdes.count()

        def two_stage(k_cand):
            cand = SRCH.flat_topk(
                fdes, qf, metric="inner_product", k=k_cand,
                id_col="doc_id", vector_col="fde",
            ).select("doc_id")
            pruned = docs_mv.join(F.broadcast(cand), "doc_id", "left_semi")
            return MV.maxsim_topk(
                pruned, qtok, metric="cosine", k=5,
                id_col="doc_id", vectors_col="vectors", vector_col=None,
            )

        two_stage(20).collect()  # warmup
        t0 = time.time()
        got20 = {r["doc_id"] for r in two_stage(20).collect()}
        muvera["fde_search_rerank_sec"] = round(time.time() - t0, 3)

        # DEFAULT config (encodings/muvera.py::default_candidates —
        # max(100, 20k) capped at corpus): recall and cost recorded side
        # by side so the default is self-describing (r7 verdict #8)
        c_def = MU.default_candidates(5, n_docs)
        muvera["default_candidates"] = c_def
        t0 = time.time()
        got_def = {r["doc_id"] for r in two_stage(c_def).collect()}
        muvera["fde_search_rerank_default_sec"] = round(time.time() - t0, 3)

        exact_df = MV.maxsim_topk(
            docs_mv, qtok, metric="cosine", k=5,
            id_col="doc_id", vectors_col="vectors", vector_col=None,
        )
        exact_df.collect()  # warmup
        t0 = time.time()
        exact5 = {r["doc_id"] for r in exact_df.collect()}
        muvera["exact_maxsim_sec"] = round(time.time() - t0, 3)
        # recall at two candidate depths: the FDE proxy needs ~100
        # candidates for full recall on this UNSTRUCTURED corpus (the
        # jl/pca data-floor effect, SCALE.md) — both depths recorded so
        # the number is self-describing
        got100 = {r["doc_id"] for r in two_stage(100).collect()}
        muvera["recall_at_5_cand20"] = round(
            len(exact5 & got20) / max(len(exact5), 1), 3
        )
        muvera["recall_at_5_cand100"] = round(
            len(exact5 & got100) / max(len(exact5), 1), 3
        )
        muvera["recall_at_5_default"] = round(
            len(exact5 & got_def) / max(len(exact5), 1), 3
        )
        fdes.unpersist()
        docs_mv.unpersist()
    except Exception as e:  # noqa: BLE001
        print(f"bench muvera failed: {e}", file=sys.stderr)

    # ingest throughput, mirroring the reference's write-boundary bench
    # (bench/ets_owner_bench.exs: batched put_many is the recommended path):
    # validated batch insert through the Collection pipeline (id/value
    # fallback, finiteness checks, normalize, sign-bit packing, duplicate
    # rejection), rows/sec end-to-end. The embeddings table is replicated
    # 64x with distinct ids (~128k rows at sf0.1) so the fixed per-batch
    # job overhead (validation aggregate, lineage cut) amortizes and the
    # number reflects steady-state throughput, not job submission. A raw
    # parquet write of the same rows is the yardstick: the gap between the
    # two IS the price of validated ingest.
    ingest = {}
    try:
        import shutil

        from vettore_spark.collection import Collection

        reps = 64
        emb = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .crossJoin(spark.range(reps).withColumnRenamed("id", "_rep"))
            .select(
                F.concat_ws("_", F.col("vec_id").cast("string"), F.col("_rep"))
                .alias("id"),
                F.concat_ws("_", F.col("vec_id").cast("string"), F.col("_rep"))
                .alias("value"),
                F.col("embedding").cast("array<double>").alias("vector"),
                F.lit(None).cast("array<array<double>>").alias("vectors"),
                F.lit(None).cast("array<bigint>").alias("binary_vector"),
                F.lit(None).cast("map<string,string>").alias("metadata"),
            )
        )
        n_rows = emb.count()
        tmp = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_tmp")
        # 5 ALTERNATING samples of raw write and validated put_many, medians
        # compared (the r6 verdict's rule: the query timings got spreads in
        # r5; the ingest contract number was still a single sample, and one
        # cold put_many against one lucky raw write read as a 2.51x
        # "regression" that a 5-sample isolation profile showed to be 1.59x).
        # Alternating pairs see the same host-drift window, so the RATIO is
        # robust even when the box is busy. The <=2x contract is evaluated
        # at sf0.1 (128k replicated rows): below that the fixed per-batch
        # overhead (validation aggregate, lineage cut) dominates both sides
        # and the ratio reads high (2.4-2.5 at sf0.01's 32k rows) without
        # saying anything about steady-state throughput.
        # one untimed alternating pair first — the same warmup rule every
        # query section follows (Benchee warmup: 2): the first put_many
        # otherwise pays collection-creation + codegen cold costs and
        # lands as a 1.3-1.5x tail sample that reads as ingest spread
        emb.write.mode("overwrite").parquet(os.path.join(tmp, "raw"))
        Collection.create(spark, "bench_ingest_warm", 64, metric="cosine").put_many(emb)
        raw_samples: list[float] = []
        put_samples: list[float] = []
        for i in range(5):
            t0 = time.time()
            emb.write.mode("overwrite").parquet(os.path.join(tmp, "raw"))
            raw_samples.append(time.time() - t0)
            t0 = time.time()
            c = Collection.create(spark, f"bench_ingest_{i}", 64, metric="cosine")
            c.put_many(emb)
            # count() is O(1) from the maintained counter (r8); the
            # validated scan the timing captures is put_many's single
            # validation aggregate over every batch row — the same rows
            # the raw-write yardstick scans
            assert c.count() == n_rows
            put_samples.append(time.time() - t0)

        ingest = {
            "rows": n_rows,
            "put_many_sec": round(_median(put_samples), 3),
            "put_many_rps": round(n_rows / _median(put_samples), 1),
            "raw_write_rps": round(n_rows / _median(raw_samples), 1),
            "put_raw_ratio": round(_median(put_samples) / _median(raw_samples), 2),
            "put_many_spread": _mm(put_samples),
            "raw_write_spread": _mm(raw_samples),
        }
        # read path (the reference's ETS read-throughput bench family):
        # batched point lookups — one broadcast semi-join job for the whole
        # id set, the Spark shape for bulk gets (a per-id get() loop would
        # measure job-submission overhead, not the store)
        # sample real vec_ids from the parquet (NOT a hardcoded range:
        # at other scale factors a fixed id domain mostly misses and the
        # number would measure the miss path, not the store)
        sample_ids = [
            r["vec_id"]
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id")
            .orderBy("vec_id")
            .limit(1000)
            .collect()
        ]
        ids = [f"{i}_{r}" for i in sample_ids for r in range(reps)]
        t0 = time.time()
        n_hits = c.get_many(ids).count()
        dt = time.time() - t0
        ingest["lookup_rows"] = n_hits
        ingest["lookup_rps"] = round(n_hits / dt, 1)
        shutil.rmtree(tmp, ignore_errors=True)
    except Exception as e:  # noqa: BLE001
        print(f"bench ingest failed: {e}", file=sys.stderr)

    # Two output lines. The driver records only the LAST ~2000 bytes of
    # stdout and parses the last JSON line found there (round 2's single
    # full-detail line outgrew that window -> "parsed": null). Line 1 is
    # the full per-query detail (also written to bench_full.json for the
    # repo record); the FINAL line is a compact summary — total, overlap,
    # ingest, and only the 20 slowest queries — sized to survive the
    # capture window.
    sf_val = _sf_value(sf_dir)
    try:
        load_end = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_end = []
    host_load = {
        "start": load_start,
        "end": load_end,
        # >4 runnable tasks on a box where nothing of ours had started yet
        # = someone else's workload; timings carry the shared-VM envelope
        "verdict": (
            "contended" if load_start and load_start[0] > 4.0 else "solo"
        ),
        # mid-run stall detector: samples >= 3x their query's own min are
        # hypervisor stalls / GC pauses, invisible to the start-load stamp
        # (a 0.2 s query reading 4.5 s once is a stalled SAMPLE, not a
        # regression). High counts mean per-query medians carry stall
        # pollution and round-over-round deltas need the spread block.
        "stalled_samples": sum(
            1
            for s in all_samples.values()
            for x in s
            if x >= 3.0 * max(min(s), 1e-9) and x >= 0.5
        ),
        "n_samples": sum(len(s) for s in all_samples.values()),
    }
    recall_note = (
        "@clustered rows: planted 32-cluster n=4000 fixture (deterministic"
        " seed) — the tier's operating point; unlabeled rows: the sf"
        " embeddings corpus, ISOTROPIC, so they sit at the SimHash"
        " p_bit^n_bits data floor by construction (curves in SCALE.md)"
    )
    # Best-of-3 protocol (r11 verdict #1): the committed record of three
    # same-tree bench runs with the minimum selected — the host-drift
    # defense when the box never goes quiet (r11 proved 35% silent
    # degradation on identical code). Maintained by tools/bench3.py;
    # embedded here so the DRIVER record carries the protocol result
    # alongside whatever the live run reads under current host load.
    best_of_3 = None
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "bench_best_of_3.json",
            )
        ) as fh:
            b3 = json.load(fh)
        if b3.get("sf") == sf_val:
            best_of_3 = b3.get("summary")
    except Exception:  # noqa: BLE001 — protocol file absent: key stays null
        pass
    full = {
        "metric": "headline_queries_full",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_headline": len(HEADLINE),
        "full_registry_rest_sec": rest_total,
        # REAL one-time availableNow replay cost per streaming gate (r10
        # verdict watch item 1): the per-query rows above time the
        # memoized memory-sink table (replay lands in warmup); this map is
        # the first-build wall time recorded inside _run_streaming_gate.
        "streaming_replay_sec": dict(sorted(Q.STREAMING_REPLAY_SECONDS.items())),
        # per-micro-batch attribution of each gate's first replay (batchId,
        # input rows, the engine's durationMs phases); full record only
        "streaming_progress": dict(sorted(Q.STREAMING_REPLAY_PROGRESS.items())),
        "spread": spread,
        "overlap_at_10_vs_exact": overlap,
        "mutual_pair_recall": mutual_recall,
        "mutual_pair_recall_note": recall_note,
        "muvera": muvera,
        "ingest": ingest,
        "host_load": host_load,
        "best_of_3": best_of_3,
        "sf": sf_val,
    }
    print(json.dumps(full))
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json"),
            "w",
        ) as f:
            json.dump(full, f, indent=1)
    except Exception:  # noqa: BLE001 — read-only checkout; stdout already has it
        pass
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:20]
    )
    failed = sorted(k for k, v in timings.items() if v < 0)
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # top-20 slowest PLUS the pinned scaling-probe rows, so the
        # driver's low-core run shares query names with the 32-core run
        "queries": _probe_first(slowest, timings, len(slowest)),
        "n_queries": len(timings),
        "n_headline": len(HEADLINE),
        "full_registry_rest_sec": rest_total,
        "n_failed": len(failed),
        "streaming_replay_sec": dict(sorted(Q.STREAMING_REPLAY_SECONDS.items())),
        "spread": spread,
        "overlap_at_10_vs_exact": overlap,
        "mutual_pair_recall": mutual_recall,
        "muvera": muvera,
        "ingest": ingest,
        "host_load": host_load,
        # the compact line carries the protocol VERDICT keys only; the
        # selected run's full per-query audit maps (min_queries /
        # min_streaming_replay_sec, r14) live in bench_best_of_3.json
        # and the full record above — several KB that would instantly
        # blow the driver's capture window here
        "best_of_3": (
            {
                k: v
                for k, v in best_of_3.items()
                if k
                not in (
                    "min_queries",
                    "min_streaming_replay_sec",
                    "min_ingest",
                )
            }
            if isinstance(best_of_3, dict)
            else best_of_3
        ),
        "sf": sf_val,
    }
    line = compact_bench_line(
        compact,
        slowest=slowest,
        timings=timings,
        spread=spread,
        overlap=overlap,
        muvera=muvera,
    )
    # diagnostic for run-to-run variance: if the derived-index registry is
    # at capacity, LRU eviction mid-bench silently re-derives a family
    from vettore_spark.plans import cache as PC

    print(
        f"persist-cache occupancy: {len(PC._PERSIST_CACHE)}/{PC._PERSIST_CACHE_MAX}",
        file=sys.stderr,
    )
    print(
        f"host load: start={load_start} end={load_end} -> "
        f"{host_load['verdict']} run",
        file=sys.stderr,
    )
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
