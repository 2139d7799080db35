"""Round-8 hardening: the O(1) maintained row count (reference parity:
ETS table size, store/ets.ex info) must stay EXACT through every
mutation path — a drifting counter is a silently wrong count(), worse
than a slow one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vettore_spark.collection import Collection


def _rows(n, offset=0):
    return [
        {"id": str(i + offset), "vector": [float(i + offset)] * 4}
        for i in range(n)
    ]


def test_count_maintained_through_put_and_put_many(spark):
    c = Collection.create(spark, "rc1", 4, metric="l2")
    assert c.count() == 0
    c.put_many(_rows(5))
    assert c.count() == 5
    c.put({"id": "x", "vector": [1.0, 2.0, 3.0, 4.0]})
    assert c.count() == 6
    # the maintained value equals a real scan
    assert c.df.count() == 6


def test_count_unchanged_by_rejected_batch(spark):
    c = Collection.create(spark, "rc2", 4, metric="l2")
    c.put_many(_rows(3))
    with pytest.raises(ValueError):
        c.put_many(_rows(2))  # duplicate ids vs existing
    assert c.count() == 3
    with pytest.raises(ValueError):
        c.put_many([{"id": "bad", "vector": [1.0]}])  # wrong dims
    assert c.count() == 3


def test_count_recovers_after_delete(spark):
    """delete invalidates (the id may be absent — the filter no-ops);
    the next count() re-derives from the rows and re-caches."""
    c = Collection.create(spark, "rc3", 4, metric="l2")
    c.put_many(_rows(4))
    c.delete("2")
    assert c.count() == 3
    c.delete("no-such-id")  # no-op delete must not drift the counter
    assert c.count() == 3
    c.put_many(_rows(2, offset=100))
    assert c.count() == 5


def test_count_with_attached_store(spark, tmp_path):
    c = Collection.create(spark, "rc4", 4, metric="l2").attach_store(
        str(tmp_path / "store")
    )
    c.put_many(_rows(4))
    assert c.count() == 4
    c.delete("1")
    assert c.count() == 3
    c.compact_store()
    assert c.count() == 3
    c.put_many(_rows(1, offset=50))
    assert c.count() == 4
    # adopt path: a fresh collection over the existing store has an
    # unknown size until it counts
    c2 = Collection.create(spark, "rc5", 4, metric="l2").attach_store(
        str(tmp_path / "store")
    )
    assert c2.count() == 4


def test_count_is_driver_side_after_ingest(spark):
    """After put_many the maintained counter answers count() without a
    job — pinned by counting Spark jobs around the call."""
    c = Collection.create(spark, "rc6", 4, metric="l2")
    c.put_many(_rows(10))
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    n = c.count()
    after = tracker.getJobIdsForGroup(None)
    assert n == 10
    assert len(after) == len(before), "count() ran a Spark job"


def test_large_tombstone_overlay_uses_anti_join(spark, tmp_path, monkeypatch):
    """Past _TOMBSTONE_ISIN_MAX the delete overlay must become a broadcast
    anti-join, not a giant isin literal list (a million deletes would
    inline a million literals into every scan's plan). Same visible rows
    either way — pinned by shrinking the threshold to 2 and deleting 3."""
    monkeypatch.setattr(Collection, "_TOMBSTONE_ISIN_MAX", 2)
    c = Collection.create(spark, "rc7", 4, metric="l2").attach_store(
        str(tmp_path / "store")
    )
    c.put_many(_rows(6))
    for i in ("0", "1", "2"):
        c.delete(i)
    assert c.count() == 3
    assert {r["id"] for r in c.all().collect()} == {"3", "4", "5"}
    plan = c.all()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    # tombstoned ids still refuse re-insert through the join path
    with pytest.raises(ValueError, match="tombstoned"):
        c.put_many(_rows(1))
    # compaction folds the overlay; re-insert becomes legal again
    c.compact_store()
    c.put_many(_rows(1))
    assert c.count() == 4


def test_delete_chain_lineage_is_cut(spark):
    """K in-memory deletes must not build a K-deep filter chain: the same
    depth-8 lineage cut that bounds ingest unions applies to deletes.
    Pinned by counting Filter nodes in the analyzed plan after 20
    deletes (a LogicalRDD/checkpoint cut resets the chain) and by row
    correctness."""
    c = Collection.create(spark, "rc8", 4, metric="l2")
    c.put_many(_rows(30))
    for i in range(20):
        c.delete(str(i))
    assert c.count() == 10
    assert {r["id"] for r in c.all().collect()} == {
        str(i) for i in range(20, 30)
    }
    plan = c.df._jdf.queryExecution().analyzed().toString()
    n_filters = plan.count("Filter ")
    assert n_filters < 8, f"{n_filters} chained filters — lineage not cut"


def test_mutation_invalidates_semantically_equal_cached_persist(spark, tmp_path):
    """The cached_persist blind spot: appending to a store path leaves the
    re-read sameSemantics-EQUAL to the pre-append read, so a derived table
    persisted from the old rows would silently keep serving them.
    Collection mutations must evict those entries (invalidate_source)."""
    from vettore_spark.plans import cache as PC
    from pyspark.sql import functions as F

    PC.clear()
    c = Collection.create(spark, "rc9", 4, metric="l2").attach_store(
        str(tmp_path / "store")
    )
    c.put_many(_rows(3))

    def build(src):
        return src.select("id")

    first = PC.cached_persist(c.df, ("ids",), build)
    assert first.count() == 3
    c.put_many(_rows(2, offset=100))  # append: same path, same plan hash
    fresh = PC.cached_persist(c.df, ("ids",), build)
    assert fresh.count() == 5, "stale persisted table served after append"
    c.delete("100")
    fresh2 = PC.cached_persist(c.df, ("ids",), build)
    assert fresh2.count() == 4
    PC.clear()


def test_mutation_invalidates_derived_plan_cached_persist(spark, tmp_path):
    """The DERIVED-plan staleness class (r8 advice, medium): module-level
    operators key their persists on projections/repartitions of the df,
    not the df itself — those recorded sources are never sameSemantics-
    equal to the collection's df, yet stay sameSemantics-equal to their
    own post-append rebuild, so hash-only eviction misses them. The
    leaf-dir overlap rule must evict them on a store-backed mutation."""
    from vettore_spark.plans import cache as PC

    PC.clear()
    c = Collection.create(spark, "rc10", 4, metric="l2").attach_store(
        str(tmp_path / "store2")
    )
    c.put_many(_rows(3))

    # what dedup/ann actually do: derive a projection FIRST, key on that
    derived = c.df.select("id", "vector").repartition(2)

    def build(src):
        return src.select("id")

    first = PC.cached_persist(derived, ("derived-ids",), build)
    assert first.count() == 3
    c.put_many(_rows(2, offset=200))  # append: derived plan hash unchanged
    derived2 = c.df.select("id", "vector").repartition(2)
    fresh = PC.cached_persist(derived2, ("derived-ids",), build)
    assert fresh.count() == 5, (
        "stale DERIVED persisted table served after store append"
    )
    PC.clear()


def test_inmemory_mutation_keeps_unrelated_leaf_entries(spark, tmp_path):
    """The other side of the leaf rule: an IN-MEMORY collection mutation
    rebinds the plan (old derived entries become unreachable misses, not
    stale hits), so it must NOT evict resident tables of unrelated
    operators that merely read the same source parquet."""
    from vettore_spark.plans import cache as PC

    PC.clear()
    src_path = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(str(i), [float(i)] * 4) for i in range(6)], "id string, vector array<double>"
    ).write.parquet(src_path)
    base = spark.read.parquet(src_path)

    built = {"n": 0}

    def build(src):
        built["n"] += 1
        return src.select("id")

    t = PC.cached_persist(base, ("unrelated",), build)
    assert t.count() == 6 and built["n"] == 1
    c = Collection.create(spark, "rc11", 4, metric="l2")
    c.put_many(
        base.select(
            "id",
            F.col("id").alias("value"),
            "vector",
            F.lit(None).cast("array<array<double>>").alias("vectors"),
            F.lit(None).cast("array<bigint>").alias("binary_vector"),
            F.lit(None).cast("map<string,string>").alias("metadata"),
        )
    )
    c.put_many(_rows(2, offset=300))  # in-memory mutation over same parquet
    again = PC.cached_persist(base, ("unrelated",), build)
    assert built["n"] == 1, "in-memory mutation evicted an unrelated entry"
    assert again.count() == 6
    PC.clear()


def test_spearman_all_null_group_keeps_its_row(spark):
    """A group whose every row is NULL-scored must surface as
    (group, n=0, NULL), not vanish (the zero-variance NULL contract)."""
    from vettore_spark.operators.stats import spearman_by_group

    rows = [("g1", float(i), float(i)) for i in range(4)] + [
        ("g2", None, 1.0),
        ("g2", None, 2.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {
        r["g"]: r
        for r in spearman_by_group(
            df, group_col="g", x_col="x", y_col="y"
        ).collect()
    }
    assert set(out) == {"g1", "g2"}
    assert out["g2"]["n"] == 0 and out["g2"]["spearman"] is None
    assert out["g1"]["spearman"] == pytest.approx(1.0)


def test_blocked_knn_rejects_bands_past_vector_end(spark):
    """n_bands * n_bits > dims must raise (element_at past the end would
    silently zero the missing bits and collapse those bands)."""
    from vettore_spark.operators.ann import blocked_knn_topk

    rows = [(i, [1.0, -1.0, 1.0, -1.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="dimensionality"):
        blocked_knn_topk(df, k=1, n_bits=3, n_bands=2)


def test_minhash_bands_validation(spark):
    """bands > num_perm (empty slices -> one global bucket) and
    non-divisible configs (silently ignored permutations) must raise."""
    from vettore_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(df, num_perm=8, bands=16).collect()
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(df, num_perm=10, bands=4).collect()


def test_scratch_lock_reclaims_dead_owner_and_refuses_live(tmp_path):
    """_claim_scratch_dir (flock protocol, r10): a dead owner's leftover
    lockfile is claimable instantly (the kernel released its flock at
    process death — no stale-lock state exists to reclaim); a LIVE
    flock-holding process fails loudly; re-entry by the owning process
    passes through the held-fd registry."""
    import os
    import subprocess
    import sys
    import time

    import pytest as _pytest

    from vettore_spark import queries as Q
    from vettore_spark.queries import _claim_scratch_dir

    path = str(tmp_path / "scratch")
    lock = path + ".lock"
    # dead owner: a lockfile with a token but NO live flock (the process
    # that wrote it exited — SIGKILL, OOM, clean exit, all identical
    # under flock) must be claimable without any reclaim dance
    with open(lock, "w") as fh:
        fh.write("99999 1")
    _claim_scratch_dir(path)
    with open(lock) as fh:
        assert int(fh.read().split()[0]) == os.getpid()
    _claim_scratch_dir(path)  # re-entry: we hold the fd, passes through

    # live owner: a REAL process holding the flock (content is purely
    # diagnostic — liveness comes from the kernel lock, so PID reuse and
    # starttime forgery are structurally impossible)
    other = str(tmp_path / "other")
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys, time\n"
            f"fd = os.open({other + '.lock'!r}, os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)\n"
            "os.write(fd, str(os.getpid()).encode())\n"
            "print('held', flush=True)\n"
            "time.sleep(30)\n",
        ],
        stdout=subprocess.PIPE,
    )
    try:
        assert holder.stdout.readline().strip() == b"held"
        with _pytest.raises(RuntimeError, match="owned by live process"):
            _claim_scratch_dir(other)
    finally:
        holder.kill()
        holder.wait()
    # after the holder dies the kernel releases its flock: claimable
    deadline = time.time() + 10
    while True:
        try:
            _claim_scratch_dir(other)
            break
        except RuntimeError:
            if time.time() > deadline:
                raise
            time.sleep(0.05)
    # release our own held fds so other tests in this process start clean
    for lk in (lock, other + ".lock"):
        fd = Q._OWNED_SCRATCH_FDS.pop(lk, None)
        if fd is not None:
            os.close(fd)
