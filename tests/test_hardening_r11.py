"""Round-11 hardening: the r10 advice items — the plan-cache zero-file
classifier's polarity (pin as never-stale ONLY for known in-memory
leaves; any other zero-file plan, e.g. a DSv2 scan, defaults to
evict-always), and the scratch-lock legacy migration guard (refuse only
on a POSITIVELY verified legacy owner — an unverifiable token must not
become a persistent spurious refusal once the flock is held)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F


def test_empty_dir_v2_scan_stays_evictable(spark, tmp_path):
    """r10 advice (plans/cache.py): the old classifier pinned as
    never-stale any zero-file plan whose analyzed tree did NOT print as
    a v1 `Relation [` — so a DSv2 scan (`RelationV2`) built over an
    empty dir escaped eviction forever, silently reopening the
    serve-stale-rows-after-append hole for every non-v1 read path. The
    inverted polarity (allowlist of in-memory leaf names) must give it
    the _ANY_LEAF sentinel instead."""
    from vettore_spark.plans import cache as PC

    PC.clear()
    old = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        d = str(tmp_path / "v2store")
        os.makedirs(d)
        src = spark.read.schema("id long").parquet(d)
        # sanity: this really is a DSv2 leaf, the shape the old regex missed
        leaves = src._jdf.queryExecution().analyzed().collectLeaves()
        names = {leaves.apply(i).nodeName() for i in range(leaves.size())}
        assert any("V2" in n for n in names), names
        first = PC.cached_persist(src, ("r11-v2",), lambda s: s.select("id"))
        assert first.count() == 0

        spark.range(4).select("id").write.mode("append").parquet(d)
        src2 = spark.read.schema("id long").parquet(d)
        assert PC.invalidate_source(src2) >= 1, (
            "empty-at-build DSv2 entry escaped leaf-overlap eviction"
        )
        fresh = PC.cached_persist(src2, ("r11-v2",), lambda s: s.select("id"))
        assert fresh.count() == 4
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old)
        PC.clear()


def _claim(path: str) -> None:
    from vettore_spark.queries import _claim_scratch_dir

    _claim_scratch_dir(path)


def _release(path: str) -> None:
    from vettore_spark.queries import _OWNED_SCRATCH_FDS

    lock = path + ".lock"
    fd = _OWNED_SCRATCH_FDS.pop(lock, None)
    if fd is not None:
        os.close(fd)


def test_unverifiable_legacy_token_does_not_refuse(tmp_path):
    """r10 advice (queries.py migration guard): a lockfile token naming a
    LIVE pid with NO recorded starttime (the legacy protocol's
    /proc-less form, `<pid> 0`) used to keep `alive=True` forever — a
    reused PID turned a dead owner's never-cleared diagnostic token into
    a persistent spurious refusal even though the kernel flock was
    successfully acquired. The flock already proves no new-protocol
    owner: an unverifiable token must pass as inconclusive-dead."""
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    path = str(tmp_path / "scratch_r11a")
    try:
        with open(path + ".lock", "w") as fh:
            fh.write(f"{child.pid} 0")  # live pid, unverifiable starttime
        _claim(path)  # must NOT raise
    finally:
        _release(path)
        child.kill()
        child.wait()


def test_verified_live_legacy_owner_still_refuses(tmp_path):
    """The guard's positive side survives the polarity fix: a token whose
    (pid, starttime) POSITIVELY matches a live process still refuses."""
    from vettore_spark.queries import _proc_start_ticks

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    path = str(tmp_path / "scratch_r11b")
    try:
        start = _proc_start_ticks(child.pid)
        if start is None:
            pytest.skip("no /proc starttime on this platform")
        with open(path + ".lock", "w") as fh:
            fh.write(f"{child.pid} {start}")
        with pytest.raises(RuntimeError, match="legacy-protocol"):
            _claim(path)
    finally:
        _release(path)
        child.kill()
        child.wait()


def test_stale_starttime_mismatch_passes(tmp_path):
    """PID reuse with a READABLE but different starttime is detected as
    dead (unchanged behavior, now via the single verified-match rule)."""
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    path = str(tmp_path / "scratch_r11c")
    try:
        with open(path + ".lock", "w") as fh:
            fh.write(f"{child.pid} 12345")  # wrong starttime: not that owner
        _claim(path)  # must NOT raise
    finally:
        _release(path)
        child.kill()
        child.wait()


def test_kmv_shingle_overlap_sketch_only_tier(spark):
    """r10 verdict watch item 2 (tier dispatch): exact=False must ship
    the sketch-only production plan — same sketch estimates as the
    calibration-tier run, no full-outer distinct-set join anywhere in
    the plan, and no exact_* columns in the output."""
    from vettore_spark.queries import q_kmv_shingle_overlap

    sf = "/root/testdata/sf0.001"
    full = q_kmv_shingle_overlap(spark, sf).collect()[0]
    sk = q_kmv_shingle_overlap(spark, sf, exact=False)
    assert sk.columns == ["jaccard", "est_union", "est_intersection"]
    plan = sk._jdf.queryExecution().optimizedPlan().toString()
    assert "FullOuter" not in plan, "sketch tier still carries the exact join"
    row = sk.collect()[0]
    assert (row["jaccard"], row["est_union"], row["est_intersection"]) == (
        full["jaccard"], full["est_union"], full["est_intersection"]
    ), "sketch estimates diverge between tiers"


def test_sq_null_vector_cannot_poison_candidates(spark):
    """r11 review: a null/length-mismatched vector propagates null
    through the zip_with encode fold to _d2, and Spark's default asc is
    NULLS FIRST — without the isNotNull filter one malformed row filled
    the candidate set ahead of every real distance."""
    from vettore_spark.operators.sq import sq_topk
    from vettore_spark.plans import cache as PC

    PC.clear()
    rows = [(str(i), [float(i), float(i)]) for i in range(8)]
    rows.append(("bad-null", None))
    rows.append(("bad-short", [1.0]))
    df = spark.createDataFrame(rows, "id string, vector array<double>")
    got = sq_topk(
        df, [0.0, 0.0], [0.0, 0.0], [7.0, 7.0], k=3, candidates=3
    ).collect()
    ids = [r["id"] for r in got]
    assert ids == ["0", "1", "2"], ids
    PC.clear()


def test_hnsw_cache_key_includes_ef_search(spark):
    """r11 review: the pickled graphs embed params.ef_search as the
    search default, but the persist-cache key omitted it — the second
    builder with a wider beam silently got the first's cache hit and
    searched with the narrow beam."""
    from vettore_spark.operators.hnsw import HnswParams, build_graph_shards
    from vettore_spark.plans import cache as PC

    PC.clear()
    df = spark.createDataFrame(
        [(str(i), [float(i), 0.0]) for i in range(20)],
        "id string, vector array<double>",
    )
    a = build_graph_shards(df, metric="l2", params=HnswParams(ef_search=16))
    b = build_graph_shards(df, metric="l2", params=HnswParams(ef_search=256))
    assert a is not b, "different ef_search must not share a cache entry"
    import pickle

    ef_a = pickle.loads(bytes(a.collect()[0]["shard"])).params.ef_search
    ef_b = pickle.loads(bytes(b.collect()[0]["shard"])).params.ef_search
    assert (ef_a, ef_b) == (16, 256), (ef_a, ef_b)
    PC.clear()


def test_hnsw_search_default_id_type_stringifies_long_ids(spark):
    """r11 review: the public default id_type=StringType used to emit the
    graphs' NATIVE ids into a string-declared Arrow field — long ids
    crashed mid-job ('Expected bytes, got int'). The default now coerces
    to str; an explicit id_type still emits native."""
    from pyspark.sql import types as T

    from vettore_spark.operators.hnsw import (
        HnswParams, build_graph_shards, search_graph_shards,
    )
    from vettore_spark.plans import cache as PC

    PC.clear()
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "id long, vector array<double>",
    )
    shards = build_graph_shards(df, metric="l2", params=HnswParams())
    got = search_graph_shards(shards, [("q", [0.0, 0.0])], metric="l2", k=3)
    assert [r["id"] for r in got.collect()] == ["0", "1", "2"]
    native = search_graph_shards(
        shards, [("q", [0.0, 0.0])], metric="l2", k=3, id_type=T.LongType()
    )
    assert [r["id"] for r in native.collect()] == [0, 1, 2]
    PC.clear()


def test_pq_margin_prune_superset_under_either_rounding():
    """r11 review: the local PQ prune used np.round (half-to-even) keys
    while the global merge ranks with Spark's decimal HALF_UP — the two
    can disagree at .5 boundaries, cutting a globally-best row at the
    local stage. The margin prune must keep a superset of the top-k under
    ANY rounding rule that quantizes to the margin digit."""
    import numpy as np

    from vettore_spark.operators.pq import _margin_prune

    rng = np.random.default_rng(11)
    for _ in range(200):
        n, k = 50, 5
        # distances clustered near .5 boundaries of the 5th digit
        base = rng.integers(0, 40, size=n) * 1e-5
        d = base + rng.choice([0.0, 0.5e-5, 0.49999e-5, 0.50001e-5], size=n)
        sel = set(_margin_prune(d, k, 1e-5).tolist())
        for rounder in (
            lambda x: np.round(x, 5),                       # half-to-even
            lambda x: np.floor(x * 1e5 + 0.5) / 1e5,        # HALF_UP-ish
        ):
            key = rounder(d)
            order = np.lexsort((np.arange(n), key))[:k]
            assert set(order.tolist()) <= sel, (
                "margin prune cut a row the rounded ranking keeps"
            )


def test_self_knn_exclude_self_duplicate_ids(spark):
    """r11 review: exclude_self used a k+1-then-filter shortcut; with a
    duplicated query id the filter removes EVERY same-id row, leaving the
    block's local stage under-provisioned (only k-1 non-self survivors).
    The local stage now excludes INSIDE the kernel cut (exclude_ids
    provisions kk + max-dup-count), so each block contributes a full k
    non-self candidates per query column. NOTE the FINAL output for a
    duplicated query id is unchanged either way — the merge window pools
    both duplicate queries' candidates under one query_id and duplicate
    rows refill the cut — so this pins the well-defined merged contract:
    k rows, nearest non-self ids, no same-id row anywhere."""
    from vettore_spark.operators.ann import self_knn_topk

    rows = [
        ("X", [1.0, 0.0]),
        ("X", [0.999, 0.001]),
        ("a", [0.99, 0.01]),
        ("b", [0.98, 0.02]),
        ("c", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "id string, embedding array<double>")
    got = self_knn_topk(
        df, k=2, metric="cosine", id_col="id", vector_col="embedding",
        query_blocks=1, data_blocks=1, exclude_self=True,
    )
    out = got.collect()
    assert all(r["query_id"] != r["id"] for r in out), out
    x_rows = sorted(
        (r["rank"], r["id"]) for r in out if r["query_id"] == "X"
    )
    # two pooled duplicate queries, k=2: the nearest non-X id fills both
    # slots (duplicate candidate rows are the defined pooling semantics)
    assert x_rows == [(1, "a"), (2, "a")], x_rows
    # the non-duplicated queries see exact non-self neighbors as before
    a_rows = sorted(
        (r["rank"], r["id"]) for r in out if r["query_id"] == "a"
    )
    assert a_rows[0][1] == "X", a_rows


def test_blocked_knn_ragged_table_fails_fast(spark):
    """r11 review: the dims guard probed only the FIRST row; a ragged
    table passed it and then threw deep in the stage (ANSI element_at)
    or silently zeroed sign bits. Min-over-table catches it at call
    time, and an all-NULL vector column errors instead of TypeError."""
    from vettore_spark.operators.ann import blocked_knn_topk

    ragged = spark.createDataFrame(
        [(1, [float(i) for i in range(16)]), (2, [1.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="minimum vector dimensionality"):
        blocked_knn_topk(ragged, k=1, n_bits=4, n_bands=2)
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="minimum vector dimensionality"):
        blocked_knn_topk(nulls, k=1, n_bits=4, n_bands=2)


def test_ivf_centroid_cache_sees_inplace_retrain(spark, tmp_path):
    """r11 review: the driver codebook cache keyed on semanticHash alone —
    overwriting the centroids path with re-trained centroids left the
    hash unchanged and served the STALE codebook forever. The file-list
    key component turns the overwrite into a miss."""
    from vettore_spark.operators.ann import _ivf_centroids_cached

    path = str(tmp_path / "cents")
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cell_id long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    c1 = spark.read.parquet(path)
    _, cmat1, _ = _ivf_centroids_cached(spark, c1, "cell_id", "centroid")
    spark.createDataFrame(
        [(0, [0.6, 0.8]), (1, [0.8, -0.6])],
        "cell_id long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    c2 = spark.read.parquet(path)
    assert c1.semanticHash() == c2.semanticHash()  # the blind spot is real
    _, cmat2, _ = _ivf_centroids_cached(spark, c2, "cell_id", "centroid")
    import numpy as np

    assert not np.allclose(cmat1, cmat2), (
        "re-trained centroids served from the stale codebook cache"
    )


def test_simhash_pairs_block_cap_drops_hot_bucket(spark):
    """r11 review: simhash_pairs had no bucket-size cap — a cluster
    sharing a slice key (e.g. all NULL-text docs at _sh=0) emits
    O(pop^2) join rows. The cap drops over-populated buckets before the
    self-join; default None preserves the exact pair set."""
    from vettore_spark.operators.dedup import simhash_pairs
    from vettore_spark.plans import cache as PC

    PC.clear()
    # 6 identical docs -> one hot bucket per slice; 2 distinct docs
    rows = [(i, "the same boilerplate text here") for i in range(6)]
    rows += [(10, "completely different words one"), (11, "another unrelated doc two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = simhash_pairs(df, id_col="doc_id", text_col="text").count()
    assert uncapped >= 15  # the 6-clone cluster alone is C(6,2)
    capped = simhash_pairs(
        df, id_col="doc_id", text_col="text", max_block_size=4
    ).count()
    assert capped < uncapped, "cap did not drop the hot bucket"
    PC.clear()


def test_minhash_bands_zero_raises_value_error(spark):
    """r11 review: bands=0 hit the rows-per-band division before the
    validation and surfaced as ZeroDivisionError."""
    from vettore_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="bands must be in"):
        minhash_lsh_pairs(df, id_col="doc_id", text_col="text", bands=0)


def test_cosine_unnormalized_collection_true_scores(spark):
    """r11 review: a cosine collection with normalize='none' (the
    reference whitelist allows it) used the pre-normalized dot shortcut —
    scores were unclamped dot products mislabeled as cosine (search of
    [3,4] against itself scored 25.0). The facades now pass
    pre_normalized=(normalize=='l2') so the true-cosine kernel runs; the
    reference's distances.rs::cosine computes true cosine regardless of
    stored normalization."""
    from vettore_spark.collection import Collection

    c = Collection.create(
        spark, "r11cos", 2, metric="cosine", normalize="none"
    ).put_many([
        {"id": "a", "vector": [3.0, 4.0]},
        {"id": "b", "vector": [40.0, -30.0]},
    ])
    rows = {r["id"]: r for r in c.search([3.0, 4.0], limit=2).collect()}
    assert abs(rows["a"]["score"] - 1.0) < 1e-9, rows["a"]
    assert abs(rows["a"]["distance"]) < 1e-9
    assert abs(rows["b"]["score"]) < 1e-9  # orthogonal, whatever the norms


def test_ivf_search_rejects_non_cosine(spark):
    """r11 review: ivf_search's probe/score path is cosine end to end but
    never checked the collection metric — an l2 collection silently got
    cosine-ranked results. Now it fails fast like pq/sq_search."""
    from vettore_spark.collection import Collection

    c = Collection.create(spark, "r11ivf", 2, metric="l2").put_many(
        [{"id": str(i), "vector": [float(i), 0.0]} for i in range(4)]
    )
    with pytest.raises(ValueError, match="cosine collections only"):
        c.ivf_search([1.0, 0.0])


def test_put_many_empty_batch_is_noop(spark):
    """r11 review: put_many([]) set _maybe_nonempty=True, making a
    still-empty collection refuse attach_store and pay the clash join on
    every future batch."""
    from vettore_spark.collection import Collection

    c = Collection.create(spark, "r11empty", 2)
    c.put_many([])
    assert c._maybe_nonempty is False
    assert c.count() == 0
    c.put_many([{"id": "a", "vector": [1.0, 0.0]}])
    assert c.count() == 1


def test_store_delete_absent_id_is_noop(spark, tmp_path):
    """r11 review: store-backed delete of an ABSENT id appended to the
    tombstone overlay anyway, permanently blocking that id's insertion
    until compact_store() — diverging from the in-memory no-op."""
    from vettore_spark.collection import Collection
    from vettore_spark.sources.store import ParquetStore

    c = Collection.create(spark, "r11tomb", 2)
    c.attach_store(ParquetStore(str(tmp_path / "st")))
    c.put_many([{"id": "a", "vector": [1.0, 0.0]}])
    c.delete("never-existed")
    assert c._store_deleted == [], "no-op delete grew the overlay"
    # the id remains insertable (no tombstone-clash refusal)
    c.put_many([{"id": "never-existed", "vector": [0.0, 1.0]}])
    assert c.count() == 2
    # a REAL delete still tombstones, exact count maintained without rescan
    c.delete("a")
    assert c._store_deleted == ["a"]
    assert c._row_count == 1


def test_csv_snapshot_roundtrips_embedded_newline(spark, tmp_path):
    """r11 review: CSV snapshots quote embedded newlines on write but
    were read without multiLine, so a valid snapshot misparsed and was
    rejected by its own integrity check."""
    from vettore_spark.collection import Collection

    c = Collection.create(spark, "r11csv", 2).put_many(
        [{"id": "a", "value": "line1\nline2", "vector": [1.0, 0.0]}]
    )
    path = str(tmp_path / "snap_csv")
    c.snapshot(path, format="csv")
    out = Collection.load_snapshot(spark, path)
    [row] = out.all().collect()
    assert row["value"] == "line1\nline2"
    # the integrity check just proved the count — the O(1) counter is warm
    assert out._row_count == 1
