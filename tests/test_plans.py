"""Physical-plan regression tests: the scale properties we rely on (bounded
top-k, broadcast pruning joins, window group-limit pushdown, column pruning,
predicate pushdown) must be visible in the executed/optimized plans, not just
hoped for."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vettore_spark.operators import search as S


@pytest.fixture(scope="module")
def coll(spark, tmp_path_factory):
    """A small parquet-backed collection so plans include a real FileScan."""
    rng = np.random.default_rng(7)
    rows = [
        (f"v{i:03d}", rng.standard_normal(8).astype(float).tolist(), float(i))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id: string, vector: array<double>, payload: double")
    path = str(tmp_path_factory.mktemp("plans") / "coll")
    df.write.parquet(path)
    return spark.read.parquet(path)


def _executed(df) -> str:
    from tests.conftest import strip_cached_plans

    return strip_cached_plans(
        df._jdf.queryExecution().executedPlan().toString()
    )


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_flat_topk_is_take_ordered(coll):
    """Single-query top-k must compile to TakeOrderedAndProject (bounded
    per-partition heaps + driver merge) — never a global sort."""
    q = [0.1] * 8
    plan = _executed(S.flat_topk(coll, q, metric="l2", k=5))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full sort operator


def test_flat_topk_prunes_columns(coll):
    """The scan must read only (id, vector) — payload is pruned."""
    q = [0.1] * 8
    plan = _executed(S.flat_topk(coll, q, metric="l2", k=5))
    scan = plan[plan.index("FileScan"):]
    schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "vector" in schema and "id" in schema
    assert "payload" not in schema


def test_rerank_semi_join_is_broadcast(coll):
    """Candidate hydration must be a broadcast (semi) hash join, not a
    shuffle join."""
    q = [0.1] * 8
    cand = S.flat_topk(coll, q, metric="l2", k=20).select("id")
    plan = _executed(
        S.exact_rerank(coll, cand, q, metric="l2", k=5)
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_multi_query_topk_broadcasts_queries_and_group_limits(spark, coll):
    """The query side of the similarity join must be broadcast, and the
    per-query top-k window must trigger WindowGroupLimit pushdown (partial
    top-k before the shuffle)."""
    queries = spark.createDataFrame(
        [(i, [0.1 * i] * 8) for i in range(3)],
        "query_id: long, query_vector: array<double>",
    )
    out = S.multi_query_topk(queries, coll, metric="l2", k=5)
    plan = _executed(out)
    assert "Broadcast" in plan
    assert "WindowGroupLimit" in plan


def test_predicate_pushdown_reaches_scan(coll):
    """A filter on a scanned column must appear in PushedFilters."""
    plan = _executed(coll.filter(F.col("id") == "v001").select("id"))
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,v001)]" in plan


def test_plan_checks_module(coll):
    """plans.checks: the reusable guardrail API agrees with the raw plans."""
    from vettore_spark.plans import checks as PC

    q = [0.1] * 8
    top = S.flat_topk(coll, q, metric="l2", k=5)
    PC.assert_take_ordered(top)
    PC.assert_no_cartesian(top)
    PC.assert_max_shuffles(top, 0)  # top-k shuffles no data rows
    assert PC.read_schemas(top) and "payload" not in PC.read_schemas(top)[0]

    filtered = coll.filter(F.col("id") == "v001").select("id")
    assert any("EqualTo" in f for f in PC.pushed_filters(filtered))


def test_quantized_stage1_reads_only_binary(spark, tmp_path):
    """Stage 1 of quantized search must NOT read the full vector column —
    column pruning through the two-stage pipeline is what makes the cheap
    pass cheap (SURVEY §4: 'don't read vectors in stage 1')."""
    from vettore_spark.functions import kernels as K

    rng = np.random.default_rng(11)
    df = spark.createDataFrame(
        [(f"v{i}", rng.standard_normal(8).astype(float).tolist()) for i in range(50)],
        "id: string, vector: array<double>",
    ).withColumn("binary_vector", K.compress_sign_bits("vector", 8))
    path = str(tmp_path / "bin")
    df.write.parquet(path)
    coll2 = spark.read.parquet(path)

    qb = S._pack_query_bits([0.5] * 8)
    stage1 = S.binary_topk(coll2, qb, dims=8, k=10)
    plan = _executed(stage1)
    scan = plan[plan.index("FileScan"):]
    schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "binary_vector" in schema
    assert "vector:" not in schema.replace("binary_vector", "")


def test_multi_query_quantized_stage_shape(spark, coll):
    """Batched quantized: results for each query must equal the single-query
    quantized_search at the same parameters."""
    from vettore_spark.functions import kernels as K

    df = coll.withColumn("binary_vector", K.compress_sign_bits("vector", 8))
    queries = spark.createDataFrame(
        [(1, [0.3] * 8), (2, [-0.2] * 8)], "query_id: long, query_vector: array<double>"
    )
    batch = S.multi_query_quantized(
        queries, df, dims=8, metric="l2", k=3, candidates=20
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["id"], round(r["score"], 9)))
    for qid, qv in [(1, [0.3] * 8), (2, [-0.2] * 8)]:
        single = S.quantized_search(df, qv, dims=8, metric="l2", k=3, candidates=20)
        want = [
            (i + 1, r["id"], round(r["score"], 9))
            for i, r in enumerate(single.collect())
        ]
        assert sorted(by_q[qid]) == want

    # the Arrow GEMM stage 1 must select identical candidates and produce
    # identical final results to the packed-expression stage 1
    arrow = S.multi_query_quantized(
        queries, df, dims=8, metric="l2", k=3, candidates=20, stage1="arrow"
    ).collect()
    key = lambda r: (r["query_id"], r["rank"], r["id"], round(r["score"], 9))  # noqa: E731
    assert sorted(map(key, arrow)) == sorted(map(key, batch))


# ---------------------------------------------------------------------------
# new operator families: sampling, TF-IDF, PQ
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_pq(spark, tmp_path_factory):
    rows = [
        (i, f"token{i % 7} token{i % 13} alpha beta {i}", ["en", "de"][i % 2])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    path = str(tmp_path_factory.mktemp("plans2") / "docs")
    df.write.parquet(path)
    return spark.read.parquet(path)


def test_sampling_is_shuffle_free(docs_pq):
    from vettore_spark.operators import sampling as SMP
    from vettore_spark.plans import checks as PC

    sampled = SMP.deterministic_sample(docs_pq, 0.5, key_col="doc_id")
    assert PC.shuffle_count(sampled) == 0
    split = SMP.train_test_split(docs_pq, key_col="doc_id")
    assert PC.shuffle_count(split) == 0
    strat = SMP.stratified_sample(
        docs_pq, {"en": 0.5}, strata_col="lang", key_col="doc_id"
    )
    assert PC.shuffle_count(strat) == 0


def test_tfidf_group_limit_and_single_corpus_pass(docs_pq):
    from vettore_spark.operators import text as TX
    from vettore_spark.plans import checks as PC

    out = TX.tfidf_top_terms(docs_pq, k=3)
    plan = PC.executed_plan(out)
    # per-doc top-k is a group-limit window, never a global sort of scores
    assert PC.has_window_group_limit(out)
    # the tokenize+explode runs once: BOTH the score branch and the
    # document-frequency branch read the persisted tf table (the printed
    # plan repeats the cached subtree per reader, so count the readers)
    assert plan.count("InMemoryTableScan") >= 2


def test_pq_search_broadcasts_candidates(spark, coll):
    from vettore_spark.operators import pq as PQ
    from vettore_spark.plans import checks as PC

    rows = sorted(coll.collect(), key=lambda r: r["id"])
    mat = np.array([r["vector"] for r in rows])
    books = PQ.pq_train_kmeans(mat, m=2, n_codes=8, iters=2)
    for n_queries in (1, 2):
        queries = spark.createDataFrame(
            [(f"q{i}", rows[i]["vector"]) for i in range(n_queries)],
            "query_id string, query_vector array<double>",
        )
        out = PQ.pq_search(
            coll, queries, books, candidates=20, k=5, metric="l2",
            id_col="id", vector_col="vector",
        )
        plan = PC.executed_plan(out)
        assert not PC.has_cartesian(out)
        # candidate list and query table are broadcast against the
        # collection. One query's candidates carry its id as a literal,
        # so the optimizer plans the query-table join as a broadcast
        # nested-loop join over the one matching query row.
        n_bnlj = plan.count("BroadcastNestedLoopJoin") if n_queries == 1 else 0
        assert PC.broadcast_join_count(out) + n_bnlj >= 2
        assert "WindowGroupLimit" in plan or "TakeOrdered" in plan


def test_filtered_topk_prunes_before_scoring(spark):
    """The label predicate must sit below the distance projection (scoring
    runs only on surviving rows), and the top-k must stay a bounded
    TakeOrderedAndProject."""
    from vettore_spark import queries as Q
    from vettore_spark.plans import checks as PC

    df = Q.q_filtered_topk(spark, "/root/testdata/sf0.001")
    plan = PC.executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    opt = PC.optimized_plan(df)
    # filter applies directly to the relation output, not to the scored
    # projection: in the optimized plan the Filter's child is the relation
    import re

    m = re.search(r"Filter .*label.*< 3", opt)
    assert m, opt


def test_knn_graph_and_neardup_build_without_driver_collect(spark, monkeypatch):
    """The self-kNN graph and all-pairs near-dup gate queries must stay
    fully distributed: constructing their plans may not collect the
    collection (or anything else) to the driver — the round-1 scale-killer
    this pins against regressions."""
    from pyspark.sql import DataFrame

    from vettore_spark import queries as Q

    def boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("driver collect during plan construction")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "first", boom)
    monkeypatch.setattr(DataFrame, "head", boom)
    sf = "/root/testdata/sf0.001"
    assert Q.q_knn_graph(spark, sf) is not None
    assert Q.q_embedding_neardup(spark, sf) is not None
