"""Connected-components clustering for near-dup dedup.

Oracle: a plain Python union-find over the same edge list (exact, any
graph). Mirrors the reference's oracle pattern (exact computation as ground
truth, SURVEY §5.2/§5.4). Every check runs on both tiers: the distributed
large-star/small-star loop (the driver-tier bound patched to 0) and the
driver tier (the default bound).
"""

from __future__ import annotations

import contextlib
import random

import pytest
from pyspark.sql import functions as F

from vettore_spark.operators import dedup as D

TIERS = (0, D._CC_DRIVER_MAX_EDGES)  # the loop; the driver tier


@contextlib.contextmanager
def tier(driver_max_edges: int):
    """Run connected_components (and neardup_clusters /
    dedup_keep_canonical through it) with the driver-tier bound set to
    `driver_max_edges`; 0 forces the loop."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(D, "_CC_DRIVER_MAX_EDGES", driver_max_edges)
        yield


def _union_find(edges):
    """Every endpoint is a node; a pair with a NULL end joins nothing, so
    the NULL node maps to itself (NULL)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if u is not None and v is not None and ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    out = {}
    for x in parent:
        r = find(x)
        # find() path-compresses to the root, which by construction is the
        # component minimum (we always attach max under min)
        out[x] = r
    return out


def _check(spark, edges):
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = set(_union_find(edges).items())
    for dme in TIERS:
        with tier(dme):
            got = {
                (r["id"], r["component"])
                for r in D.connected_components(
                    pairs, src="doc_a", dst="doc_b", id_out="id"
                ).collect()
            }
        assert got == want, dme


def test_cc_simple_shapes(spark):
    # path, star, two components, self-contained triangle, self-loop-only
    # node (must appear as its own singleton component)
    _check(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (20, 21), (21, 20), (30, 30)],
    )


def test_cc_chain_long(spark):
    # a 60-node path exercises multi-round convergence (diameter >> 1)
    edges = [(i, i + 1) for i in range(60)]
    random.Random(7).shuffle(edges)
    _check(spark, edges)


def test_cc_random_graphs(spark):
    # 2 trials (r14 trim): each trial is a full large-star/small-star
    # fixed-point run (~5 s); two independent 120-node graphs already
    # exercise multi-component + chain + cycle shapes
    rng = random.Random(20260813)
    for trial in range(2):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(150)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        _check(spark, edges)


def test_cc_empty(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    for dme in TIERS:
        with tier(dme):
            assert D.connected_components(pairs).count() == 0


def test_cc_string_ids(spark):
    edges = [("b", "a"), ("c", "b"), ("x", "y")]
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    for dme in TIERS:
        with tier(dme):
            got = {
                (r["id"], r["component"])
                for r in D.connected_components(pairs, id_out="id").collect()
            }
        assert got == {
            ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
        }


def test_neardup_clusters_and_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (7, 8)], "doc_a long, doc_b long"
    )
    for dme in TIERS:
        with tier(dme):
            clusters = D.neardup_clusters(pairs, id_out="doc_id").collect()
            kept = sorted(
                r["doc_id"]
                for r in D.dedup_keep_canonical(docs, pairs, id_col="doc_id").collect()
            )
        by_id = {r["doc_id"]: (r["component"], r["cluster_size"]) for r in clusters}
        assert by_id == {
            1: (1, 3), 2: (1, 3), 5: (1, 3), 7: (7, 2), 8: (7, 2),
        }
        # 2, 5, 8 dropped (non-canonical members); everything else kept
        assert kept == [0, 1, 3, 4, 6, 7, 9]


def test_cc_idempotent_on_own_output(spark):
    """Running connected_components on its own (id, component) assignment
    pairs returns the same assignment — the fixed point of the clustering."""
    edges = [(1, 2), (2, 3), (9, 8), (7, 8)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    for dme in TIERS:
        with tier(dme):
            first = D.connected_components(pairs, id_out="id")
            again = D.connected_components(
                first.select(F.col("id").alias("doc_a"), F.col("component").alias("doc_b"))
            )
            assert {
                (r["id"], r["component"]) for r in again.collect()
            } == {(r["id"], r["component"]) for r in first.collect()}


_rng = random.Random(20261018)
GRAPHS = {
    # a NULL end joins nothing; the NULL node is its own (NULL) component
    "null_ids": ("doc_a long, doc_b long", [
        (1, None), (None, 2), (2, 3), (None, None), (5, 6), (7, None),
    ] + [(_rng.randrange(30), _rng.choice([None, _rng.randrange(30)]))
         for _ in range(40)]),
    # a node whose only pair is (x, x) is a singleton component
    "self_loops": ("doc_a int, doc_b int", [
        (1, 1), (2, 2), (2, 3), (4, 4), (4, 5), (5, 4), (6, 6), (6, 6),
    ]),
    "dup_reversed": ("doc_a long, doc_b long", [
        (b, a) if _rng.random() < 0.5 else (a, b)
        for a, b in [(_rng.randrange(40), _rng.randrange(40)) for _ in range(30)]
        for _ in range(_rng.randrange(1, 4))
    ]),
    # non-ASCII ids: the minimum must follow Spark's binary (UTF-8) order
    "string_ids": ("doc_a string, doc_b string", [
        ("é", "e"), ("Z", "a"), ("a", "ä"), ("z", "Z"), ("x", None),
        ("ß", "ſ"), ("ſ", "€"), ("日本", "日"), ("", "q"),
    ]),
    # diameter 199: the loop needs many rounds
    "path_200": ("doc_a long, doc_b long",
                 _rng.sample([(i, i + 1) for i in range(199)], 199)),
    "empty": ("doc_a long, doc_b long", []),
}


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_cc_tiers_agree(spark, graph):
    """Both tiers return the same rows for connected_components,
    neardup_clusters and dedup_keep_canonical, and the components are the
    union-find oracle's."""
    ddl, edges = GRAPHS[graph]
    pairs = spark.createDataFrame(edges, ddl)
    id_type = ddl.split()[1].rstrip(",")
    ids = sorted({x for e in edges for x in e if x is not None})
    docs = spark.createDataFrame(
        [(x, "t") for x in ids], f"doc_id {id_type}, text string"
    )
    outs = []
    for dme in TIERS:
        with tier(dme):
            cc = D.connected_components(pairs).collect()
            clusters = D.neardup_clusters(pairs).collect()
            kept = D.dedup_keep_canonical(docs, pairs, id_col="doc_id").collect()
        outs.append((
            sorted(((r["id"], r["component"]) for r in cc), key=repr),
            sorted((tuple(r) for r in clusters), key=repr),
            sorted(r["doc_id"] for r in kept),
        ))
    assert outs[0] == outs[1]
    assert dict(outs[1][0]) == _union_find(edges)


def test_cc_driver_tier_runs_at_most_three_jobs(spark):
    """A 100-edge graph: the pair-list probe plus the collect of the
    result — not a job per large-/small-star round."""
    rng = random.Random(5)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(100)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    sc = spark.sparkContext
    group = "cc-driver-tier-jobs"
    sc.setJobGroup(group, group)
    try:
        rows = D.connected_components(pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {(r["id"], r["component"]) for r in rows} == set(_union_find(edges).items())
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_cc_past_the_bound_generates_the_pairs_once(spark, tmp_path):
    """A pair list past the driver-tier bound: the probe reads the cut
    list that the loop then reuses, so the upstream plan that generates
    the pairs runs once per pair (a local-checkpoint cut)."""
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("a lazy reliable checkpoint recomputes its input to write it")
    # a file, not an accumulator: a task that a limit stops early drops
    # its accumulator updates
    log = str(tmp_path / "generated")

    def count(batches):
        for pdf in batches:
            with open(log, "a") as f:
                f.write(f"{len(pdf)}\n")
            yield pdf

    base = spark.range(0, 60, numPartitions=4).select(
        F.col("id").alias("doc_a"), (F.col("id") % 7).alias("doc_b")
    )
    pairs = base.mapInPandas(count, base.schema)
    with tier(10):
        rows = D.connected_components(pairs).collect()
    assert {(r["id"], r["component"]) for r in rows} == set(
        _union_find([(i, i % 7) for i in range(60)]).items()
    )
    with open(log) as f:
        assert sum(int(n) for n in f) == 60


def test_fuzzy_value_pairs_finds_near_values(spark):
    """Edit-distance dictionary matching: 1-2 edit pairs found regardless of
    where the edit falls (complete length-band blocking), exact matches
    excluded, counts carried."""
    from vettore_spark.operators.dedup import fuzzy_value_pairs

    df = spark.createDataFrame(
        [(1, "red rod"), (2, "red rod"), (3, "new rod"), (4, "red ring"),
         (5, "anvil"), (6, "xanvil")],
        ["id", "name"],
    )
    rows = fuzzy_value_pairs(df, value_col="name", max_distance=2).collect()
    got = {(r["val_a"], r["val_b"]): (r["dist"], r["n_a"], r["n_b"]) for r in rows}
    # first-char edit found (would be lost under first-char blocking)
    assert got[("new rod", "red rod")] == (2, 1, 2)
    assert got[("anvil", "xanvil")] == (1, 1, 1)
    # exact duplicates are NOT pairs (that's exact dedup's job)
    assert all(a != b for a, b in got)
    # distance > max excluded
    assert ("anvil", "red rod") not in got
