"""Durability-aware lineage truncation.

Iterative operators (connected components) and long-lived unions
(Collection ingest) must cut lineage periodically or every downstream
action pays Catalyst re-analysis over an ever-growing plan tree. HOW the
cut is taken decides what an executor loss costs on a real cluster:

- ``checkpoint()`` writes the rows to the reliable checkpoint directory
  (HDFS/S3): blocks survive any executor loss. The right cut whenever the
  session has one configured (``sc.setCheckpointDir``).
- ``localCheckpoint()`` stores blocks in executor memory/disk only. On a
  ``local[*]`` master that is as durable as the driver itself, but on a
  cluster ONE lost executor permanently loses blocks and fails the job —
  there is no lineage left to recompute from.

This ladder is the policy ``Collection.put_many`` applies to the canonical
row store (collection.py, through ``resident_cut``); ``durable_cut`` shares
it with every other lineage-cut site so an iterative job does not silently
downgrade durability on a cluster.

Two cluster-cost details the naive ``df.checkpoint()`` call gets wrong:

1. **Double compute.** A reliable checkpoint materializes the plan once
   for the eager count and AGAIN to write the checkpoint files (the RDD
   checkpoint write re-runs the lineage after the action). Eager cuts
   therefore persist() first — the write then reads the cached blocks —
   and unpersist once the checkpoint is materialized.
2. **File accumulation.** Spark never deletes checkpoint files unless
   ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (and even
   then only on GC of the RDD). An iterative loop that cuts every round
   leaks O(rounds) edge-set copies on HDFS/S3 for the application
   lifetime. Eager reliable cuts record the rdd-* directories they
   created; ``release_cut(df)`` deletes them once the NEXT cut is
   materialized and the previous round's data is unreachable.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

_warned = False

# attribute stashed on cut DataFrames: tuple(checkpoint rdd-dirs created)
_CKPT_ATTR = "_vettore_ckpt_dirs"


def _fs_and_path(sc, dir_str: str):
    jvm = sc._jvm
    path = jvm.org.apache.hadoop.fs.Path(dir_str)
    fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs, path


def _checkpoint_file_of(cut: DataFrame) -> tuple[str, ...]:
    """The reliable-checkpoint directory backing a just-checkpointed
    DataFrame, read off its LogicalRDD — exact attribution (a concurrent
    lazy checkpoint materializing in the same window is someone else's
    file and must never be swept up). Empty when the internals are not
    reachable: release then degrades to a no-op, never a wrong delete."""
    try:
        f = cut._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
        if f.isDefined():
            return (f.get(),)
    except Exception:  # internal API drift -> skip cleanup, stay correct
        pass
    return ()


def single_jvm(master: str) -> bool:
    """True for 'local' / 'local[n]' masters, where executor loss is driver
    loss and local blocks are as durable as the process. NOT for
    'local-cluster[...]', whose executors are separate JVMs that can die
    independently."""
    return master == "local" or master.startswith("local[")


def resident_cut(df: DataFrame) -> DataFrame:
    """Lazy cut materializing canonical rows at their first read: checkpoint
    with a checkpoint dir, else localCheckpoint on a local master, else
    persist.

    Later actions read the stored blocks instead of re-running `df`'s plan.
    A cluster without a checkpoint dir gets ``persist()``: cached blocks
    lost with an executor are recomputed from the lineage, where a lost
    local checkpoint would lose the rows for good. Never eager: the cut
    costs the caller no job."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=False)
    if single_jvm(sc.master):
        return df.localCheckpoint(eager=False)
    return df.persist()


def durable_cut(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Truncate `df`'s lineage with the most durable mechanism available.

    Reliable ``checkpoint()`` when the session has a checkpoint dir;
    ``localCheckpoint()`` on local masters (single-JVM: executor loss ==
    driver loss, so local blocks are as durable as the process). On a
    cluster WITHOUT a checkpoint dir the only remaining cut is a local
    checkpoint — taken, but with a one-time warning, because a lost
    executor then fails the job mid-iteration (the caller should
    ``sc.setCheckpointDir(...)`` in production).

    Eager reliable cuts persist() the input first so the checkpoint write
    reads cached blocks instead of recomputing the plan, and tag the
    returned DataFrame with the rdd-* directories the cut created so an
    iterative caller can ``release_cut`` the previous round's files.
    """
    global _warned
    sc = df.sparkSession.sparkContext
    ckpt_dir = sc.getCheckpointDir()
    if ckpt_dir is not None:
        if eager:
            cached = df.persist()
            try:
                cut = cached.checkpoint(eager=True)
            finally:
                cached.unpersist()
            cut.__dict__[_CKPT_ATTR] = _checkpoint_file_of(cut)
            return cut
        # lazy cut: materialization happens at the caller's first action,
        # so there is no window to persist/unpersist around; the write
        # recomputes once — acceptable for cuts that may never be used
        return df.checkpoint(eager=False)
    if single_jvm(sc.master):
        # 'local-cluster[...]' falls through to the warned fallback below
        # like any other cluster: its executor JVMs can die on their own
        return df.localCheckpoint(eager=eager)
    if not _warned:
        warnings.warn(
            "lineage cut on a cluster without a checkpoint directory: "
            "falling back to localCheckpoint — an executor loss will fail "
            "the job. Call spark.sparkContext.setCheckpointDir(...) for a "
            "fault-tolerant cut.",
            stacklevel=2,
        )
        _warned = True
    return df.localCheckpoint(eager=eager)


def release_cut(df: DataFrame | None) -> None:
    """Delete the reliable-checkpoint files a previous ``durable_cut``
    created for `df`, once nothing references its rows anymore (i.e. the
    NEXT cut is materialized). No-op for local/lazy cuts and for
    DataFrames that were never cut."""
    if df is None:
        return
    dirs = df.__dict__.get(_CKPT_ATTR)
    if not dirs:
        return
    sc = df.sparkSession.sparkContext
    for d in dirs:
        try:
            fs, path = _fs_and_path(sc, d)
            fs.delete(path, True)
        except Exception:  # cleanup must never fail the job
            pass
    df.__dict__[_CKPT_ATTR] = ()
