"""Unbounded-mode streaming evidence (r8 verdict item #6).

The driver gates (`streaming_events_hourly`, `streaming_dedup_keepers`)
prove batch parity under availableNow replay + complete/append-to-memory.
This harness exercises the run mode the docstrings promise at 100 TB:
a multi-micro-batch FILE source in APPEND output mode with a REAL
watermark — late rows arriving after the watermark horizon are DROPPED
by the engine (not silently aggregated), finalized windows are emitted
exactly once, and the state store stays bounded by the watermark horizon
(windowed agg) / distinct-key count (stateful dedup).

Late-row accounting comes from the engine's own instrumentation
(StreamingQueryProgress.stateOperators[].numRowsDroppedByWatermark and
numRowsTotal), not from re-deriving what "should" have been dropped —
the point is evidence that the deployed mechanism fires.

Deterministic: fixed event times, fixed file order (mtime-sequenced,
maxFilesPerTrigger=1), no RNG. Results go to stdout as one JSON line;
the SCALE.md r9 section records them.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import session

H = 3600


def _write_batch(spark, path, mtime, rows, schema):
    tmp = path + ".tmp"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = next(
        f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
    )
    os.replace(os.path.join(tmp, part), path)
    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(path, (mtime, mtime))


def _state_progress(q) -> tuple:
    """(state rows last reported, rows dropped by the watermark in total)
    over a finished query's progress, from the engine's own
    stateOperators counters."""
    state_rows, dropped = None, 0
    for p in q.recentProgress:
        for op in p.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
            state_rows = op.get("numRowsTotal", state_rows)
    return state_rows, dropped


def windowed_append_run(spark, base):
    """windowed_event_counts in APPEND mode over 3 sequenced files with
    deliberately late rows in files 1 and 2."""
    from vettore_spark.streaming.ingest import windowed_event_counts

    src = os.path.join(base, "events_src")
    os.makedirs(src)
    t0 = 1_699_999_200  # fixed epoch anchor, hour-aligned (472222 * 3600)
    mk = lambda h, m, typ: (t0 + h * H + m * 60, typ, 1.0)  # noqa: E731
    # watermark mechanics the fixture encodes (measured, Spark 4.x): a
    # batch filters late rows against the watermark in effect at the START
    # of the PREVIOUS batch (watermarkForLateEvents) and evicts/emits with
    # the one computed from all data through the previous batch
    # (watermarkForEviction) — so a row is dropped only when its window
    # end <= the watermark set TWO batches of data earlier. File 2 aims
    # two rows at window [0,1) (closed since file 0's 3:05 row pushed the
    # filter watermark to 1:05) -> dropped; one row at window [1,2) (end
    # 2:00 > 1:05 filter wm) -> late but inside the horizon, ACCEPTED and
    # emitted with its window — both sides of the late-data contract.
    batches = [
        # file 0: hours 0-2 on time + 3:05 (sets the 1:05 watermark)
        [mk(h, m, t) for h in (0, 1, 2) for m in (5, 25, 45) for t in ("a", "b")]
        + [mk(3, 5, "a")],
        # file 1: hours 3-4 advance the eviction clock (on-time only)
        [mk(3, 15, "a"), mk(3, 35, "b"), mk(4, 45, "a")],
        # file 2: hours 5-6 on time; 0:05/0:10 DROPPED, 1:05 accepted
        [mk(5, 20, "b"), mk(6, 45, "a"), mk(0, 5, "a"), mk(0, 10, "b"), mk(1, 5, "a")],
    ]
    schema = "ts_sec long, event_type string, value double"
    for i, rows in enumerate(batches):
        _write_batch(spark, os.path.join(src, f"f{i}.parquet"), t0 + i, rows, schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_sec")))
    )
    agg = windowed_event_counts(
        stream, window="1 hour", watermark="2 hours",
        ts_col="ts", key_col="event_type",
    )
    name = "streambench_windowed_append"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(base, "ckpt_win"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("windowed append run did not finish in 300s")
    state_rows, dropped = _state_progress(q)
    out = spark.table(name).collect()
    from datetime import datetime, timezone

    def _off(s: str) -> int:  # window_start is UTC-rendered by the operator
        dt = datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
        return int(dt.timestamp()) - t0

    emitted = {
        (_off(r["window_start"]), r["event_type"]): r["n"] for r in out
    }
    # expected: on-time rows only, windows closed by the final watermark
    # (4:45 - 2h = 2:45 after file 2's batch watermark update; append emits
    # a window once its END <= watermark, so hours 0-2 for sure; whether
    # hour 3/4 close depends on one final commit cycle — assert exact
    # counts for whatever DID emit, and that no late row leaked in)
    on_time = {}
    for h in (0, 1, 2):
        for t in ("a", "b"):
            on_time[(h * H, t)] = 3
    on_time[(1 * H, "a")] = 4  # 3 on time + the late-but-in-horizon 1:05
    on_time[(3 * H, "a")] = 2  # 3:05 (file 0) + 3:15 (file 1)
    on_time[(3 * H, "b")] = 1
    on_time[(4 * H, "a")] = 1
    on_time[(5 * H, "b")] = 1
    on_time[(6 * H, "a")] = 1
    for key, n in emitted.items():
        assert key in on_time and on_time[key] == n, (
            f"append output wrong at {key}: got {n}, want {on_time.get(key)}"
        )
    closed_min = {(h * H, t) for h in (0, 1, 2) for t in ("a", "b")}
    assert closed_min.issubset(emitted.keys()), (
        f"windows closed by the watermark missing from append output: "
        f"{sorted(closed_min - set(emitted))}"
    )
    assert dropped == 2, f"engine dropped {dropped} late rows, want 2"
    return {
        "input_rows": sum(len(b) for b in batches),
        "late_rows_dropped_by_watermark": dropped,
        "windows_emitted": len(emitted),
        "state_rows_final": state_rows,
        "micro_batches": len([p for p in q.recentProgress if p.get("numInputRows", 0) > 0]),
    }


def stateful_dedup_run(spark, base):
    """streaming_exact_dedup (applyInPandasWithState) across 3 micro-
    batches: cross-batch duplicates suppressed by the state store."""
    from vettore_spark.streaming.stateful import streaming_exact_dedup

    src = os.path.join(base, "docs_src")
    os.makedirs(src)
    t0 = 1_700_100_000
    batches = [
        [(f"d{i:02d}", f"text-{i}") for i in range(10)],          # 10 new
        [(f"d{10 + i:02d}", f"text-{i}") for i in range(5)]       # 5 dups
        + [(f"d{15 + i:02d}", f"text-{10 + i}") for i in range(3)],  # 3 new
        [(f"d{18 + i:02d}", f"text-{i % 13}") for i in range(6)],  # all dups
    ]
    schema = "doc_id string, text string"
    for i, rows in enumerate(batches):
        _write_batch(spark, os.path.join(src, f"f{i}.parquet"), t0 + i, rows, schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    kept = streaming_exact_dedup(stream, id_col="doc_id", text_col="text")
    name = "streambench_dedup_append"
    q = (
        kept.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(base, "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stateful dedup run did not finish in 300s")
    state_rows = _state_progress(q)[0]
    out = spark.table(name).collect()
    keepers = {r["doc_id"] for r in out}
    want = {f"d{i:02d}" for i in range(10)} | {f"d{15 + i:02d}" for i in range(3)}
    assert keepers == want, f"keepers wrong: extra={keepers - want} missing={want - keepers}"
    assert state_rows == 13, f"state rows {state_rows}, want 13 distinct digests"
    return {
        "input_rows": sum(len(b) for b in batches),
        "keepers_emitted": len(keepers),
        "state_rows_final": state_rows,
        "cross_batch_dups_suppressed": sum(len(b) for b in batches) - len(keepers),
    }


def sketch_state_bounded_run(spark, base):
    """streaming_kmv_distinct across 3 RESTARTED runs (shared checkpoint,
    one new file per run — the production stop/start cadence): the
    engine-reported state row count must stay == number of GROUPS (2)
    while the distinct-key count grows 350 -> 700 -> 1050, and the final
    running estimate must equal the batch kmv_estimate over the same
    rows bit-for-bit (same md5-derived hash construction)."""
    from vettore_spark.operators import sketch as SK
    from vettore_spark.streaming.stateful import streaming_kmv_distinct

    src = os.path.join(base, "kmv_src")
    os.makedirs(src)
    t0 = 1_700_200_000
    batches = [
        [("click", u) for u in range(i * 200, (i + 1) * 200)]
        + [("view", u) for u in range(i * 150, (i + 1) * 150)]
        for i in range(3)
    ]
    schema = "event_type string, user_id long"
    state_trajectory = []
    final_rows = None
    for i, rows in enumerate(batches):
        _write_batch(
            spark, os.path.join(src, f"f{i}.parquet"), t0 + i, rows, schema
        )
        stream = spark.readStream.schema(schema).parquet(src)
        emitted: list = []

        def _sink(batch_df, _epoch, _out=emitted):
            # memory sinks cannot recover from a checkpoint across runs;
            # foreachBatch can, and the per-batch collect is <= 2 rows
            _out.extend(batch_df.collect())

        q = (
            streaming_kmv_distinct(stream, k=128)
            .writeStream.outputMode("update")
            .foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(base, "ckpt_kmv"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("kmv run did not finish in 300s")
        state_trajectory.append(_state_progress(q)[0])
        final_rows = {
            r["event_type"]: (r["n_sketch"], r["est_distinct"])
            for r in emitted
        }
    assert state_trajectory == [2, 2, 2], (
        f"state rows {state_trajectory}: O(groups) state violated"
    )
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(all_rows, schema)
    sk = SK.kmv_sketch(
        batch_df, "user_id", k=128, group_by=["event_type"]
    )
    batch_est = {
        r["event_type"]: r["est_distinct"]
        for r in SK.kmv_estimate(sk, k=128, group_by=["event_type"]).collect()
    }
    for g, (_, est) in final_rows.items():
        assert est == batch_est[g], (
            f"{g}: stream {est} != batch {batch_est[g]}"
        )
    return {
        "distinct_keys": {"click": 600, "view": 450},
        "state_rows_per_run": state_trajectory,
        "final_estimates": {g: v[1] for g, v in final_rows.items()},
        "batch_parity": "bit-exact",
        "runs": 3,
    }


def funnel_state_recovery_run(spark, base):
    """streaming_funnel_stage (applyInPandasWithState, three-long state
    per user) across 3 RESTARTED runs — the r10 verdict's 'extend
    restart-recovery evidence beyond KMV' item. Shared checkpoint, one
    new file per run (stop/start cadence): run 0 delivers views for all
    40 users, run 1 clicks for users 0-19, run 2 purchases for users 0-9.
    The engine-reported state row count must stay == the number of user
    buckets the 40 ids hash to (state is keyed by
    pmod(xxhash64(user_id), 256), one row of per-user arrays per bucket,
    NOT growing with event count), the custom GroupState
    must survive both restarts (a click only advances the funnel if the
    RECOVERED view timestamp is present and earlier), and the final
    stage-per-user must equal the batch min-aggregate funnel over the
    union of all three files, bit-for-bit."""
    from vettore_spark.streaming.stateful import streaming_funnel_stage

    src = os.path.join(base, "funnel_src")
    os.makedirs(src)
    t0 = 1_700_300_000
    batches = [
        [(u, t0 + u, "view") for u in range(40)],
        [(u, t0 + 1000 + u, "click") for u in range(20)]
        + [(u, t0 - 500, "click") for u in range(30, 35)],  # BEFORE the view
        [(u, t0 + 2000 + u, "purchase") for u in range(10)],
    ]
    schema = "user_id long, ts_sec long, event_type string"
    state_trajectory = []
    final_stage: dict[int, int] = {}
    for i, rows in enumerate(batches):
        _write_batch(
            spark, os.path.join(src, f"f{i}.parquet"), t0 + i, rows, schema
        )
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts", F.timestamp_seconds(F.col("ts_sec")))
            .drop("ts_sec")
        )
        emitted: list = []

        def _sink(batch_df, _epoch, _out=emitted):
            # memory sinks cannot recover from a checkpoint across runs;
            # foreachBatch can, and the per-batch collect is <= 40 rows
            _out.extend(batch_df.collect())

        q = (
            streaming_funnel_stage(stream)
            .writeStream.outputMode("append")
            .foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(base, "ckpt_funnel"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("funnel run did not finish in 300s")
        state_trajectory.append(_state_progress(q)[0])
        for r in emitted:
            final_stage[r["user_id"]] = r["stage"]
    # the state key of streaming_funnel_stage, over the 40 user ids
    buckets = spark.createDataFrame(
        [(u,) for u in range(40)], "user_id long"
    ).select(
        F.countDistinct(F.pmod(F.xxhash64("user_id"), F.lit(256)))
    ).first()[0]
    assert state_trajectory == [buckets] * 3, (
        f"state rows {state_trajectory}, want {buckets} user buckets per "
        "run: O(1)-per-user state violated"
    )
    # batch twin: the min-aggregate funnel with the same strict-> rule
    # over the union of all three files
    all_rows = [r for b in batches for r in b]
    ev = spark.createDataFrame(all_rows, schema)
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts_sec").alias("t1")
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts_sec") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts_sec") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("t3"))
    )
    batch_stage = {
        r["user_id"]: r["stage"]
        for r in t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("stage"),
        )
        .collect()
    }
    assert final_stage == batch_stage, (
        f"stream/batch funnel divergence: "
        f"{ {u: (final_stage.get(u), batch_stage.get(u)) for u in sorted(set(final_stage) | set(batch_stage)) if final_stage.get(u) != batch_stage.get(u)} }"
    )
    want_hist = {3: 10, 2: 10, 1: 20}
    got_hist: dict[int, int] = {}
    for s in final_stage.values():
        got_hist[s] = got_hist.get(s, 0) + 1
    assert got_hist == want_hist, f"stage histogram {got_hist}, want {want_hist}"
    return {
        "users": 40,
        "user_buckets": buckets,
        "state_rows_per_run": state_trajectory,
        "stage_histogram": {str(k): v for k, v in sorted(got_hist.items())},
        "pre_view_clicks_ignored": 5,
        "batch_parity": "bit-exact",
        "runs": 3,
    }


def histogram_state_recovery_run(spark, base):
    """streaming_histogram_quantiles across 3 RESTARTED runs — the third
    custom-state SHAPE under the restart protocol: KMV holds a mergeable
    sketch row (r10), the funnel holds a fixed multi-field struct (r11),
    the histogram holds a GROWABLE map (parallel bucket/count long
    arrays). Shared checkpoint, one new file per run; each run's values
    occupy NEW buckets, so the recovered map must both grow (new
    counters) and keep old counters intact (the final interpolation
    mixes counts from all three runs). Engine state rows must stay == 2
    (one map per GROUP) while occupied buckets grow 10 -> 20 -> 30, and
    the final per-group estimates must equal the batch
    histogram_quantiles over the union bit-for-bit."""
    from vettore_spark.operators import sketch as SK
    from vettore_spark.streaming.stateful import streaming_histogram_quantiles

    src = os.path.join(base, "hist_src")
    os.makedirs(src)
    t0 = 1_700_400_000
    # run i contributes 150 click + 90 view values landing in buckets
    # [10i, 10i+10) — deterministic, spanning 10 fresh buckets per run
    batches = [
        [("click", 10.0 * i + (j % 100) * 0.1) for j in range(150)]
        + [("view", 10.0 * i + (j % 50) * 0.2) for j in range(90)]
        for i in range(3)
    ]
    schema = "event_type string, value double"
    state_trajectory = []
    final_rows: dict[tuple, float] = {}
    for i, rows in enumerate(batches):
        _write_batch(
            spark, os.path.join(src, f"f{i}.parquet"), t0 + i, rows, schema
        )
        stream = spark.readStream.schema(schema).parquet(src)
        emitted: list = []

        def _sink(batch_df, _epoch, _out=emitted):
            _out.extend(batch_df.collect())

        q = (
            streaming_histogram_quantiles(
                stream, quantiles=[0.5, 0.9, 0.99], bucket_width=1.0
            )
            .writeStream.outputMode("update")
            .foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(base, "ckpt_hist"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("histogram run did not finish in 300s")
        state_trajectory.append(_state_progress(q)[0])
        for r in emitted:
            final_rows[(r["event_type"], r["q"])] = r["est"]
    assert state_trajectory == [2, 2, 2], (
        f"state rows {state_trajectory}: O(groups) map state violated"
    )
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(all_rows, schema)
    batch_est = {
        (r["event_type"], r["q"]): r["est"]
        for r in SK.histogram_quantiles(
            batch_df, "value", [0.5, 0.9, 0.99],
            bucket_width=1.0, group_by=["event_type"],
        ).collect()
    }
    assert final_rows == batch_est, (
        f"stream/batch divergence: "
        f"{ {k: (final_rows.get(k), batch_est.get(k)) for k in sorted(set(final_rows) | set(batch_est)) if final_rows.get(k) != batch_est.get(k)} }"
    )
    # the final estimates can only be right if counters from ALL THREE
    # runs survived both restores: p50 of the union sits in run-1 bucket
    # territory, p99 in run-2's
    assert 10.0 <= final_rows[("click", 0.5)] < 20.0, final_rows
    assert 20.0 <= final_rows[("click", 0.99)] < 30.0, final_rows
    return {
        "groups": 2,
        "state_rows_per_run": state_trajectory,
        "occupied_buckets_final": 30,
        "final_estimates": {
            f"{g}@{q}": est for (g, q), est in sorted(final_rows.items())
        },
        "batch_parity": "bit-exact",
        "runs": 3,
    }


def main() -> None:
    spark = session("vettore-streambench")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = tempfile.mkdtemp(prefix="vettore_streambench_")
    try:
        res = {
            "windowed_append": windowed_append_run(spark, base),
            "stateful_dedup": stateful_dedup_run(spark, base),
            "sketch_state_bounded": sketch_state_bounded_run(spark, base),
            "funnel_state_recovery": funnel_state_recovery_run(spark, base),
            "histogram_state_recovery": histogram_state_recovery_run(spark, base),
        }
        print(json.dumps(res))
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
