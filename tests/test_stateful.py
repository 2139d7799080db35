"""Tests for custom stateful streaming operators: state carries across
micro-batches, and streaming results agree with their batch twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vettore_spark.streaming.stateful import (
    streaming_session_counts,
    streaming_topk_per_key,
)


def test_streaming_topk_state_across_batches(spark, tmp_path):
    """Two micro-batches; the second batch's output must reflect top-k state
    accumulated from the first."""
    src = tmp_path / "in"
    b1 = [(1, 1, 10.0), (2, 1, 5.0), (3, 1, 8.0), (4, 2, 1.0)]
    b2 = [(5, 1, 9.0), (6, 2, 2.0)]
    schema = "event_id: long, user_id: long, value: double"
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(
        "event_id long, user_id long, value double"
    ).option("maxFilesPerTrigger", "1").parquet(str(src) + "/*")
    q = (
        streaming_topk_per_key(stream, k=2)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("topk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select * from topk"
    ).collect()
    # the LAST emission per (user, rank) is the final state; memory sink in
    # update mode appends — take the last occurrence
    final: dict = {}
    for r in rows:
        final[(r["user_id"], r["rank"])] = (r["event_id"], r["value"])
    # user 1 saw values 10, 8, 5, then 9 -> top2 = (1,10.0), (5,9.0)
    assert final[(1, 1)] == (1, 10.0)
    assert final[(1, 2)] == (5, 9.0)
    # user 2 saw 1.0 then 2.0 -> top2 = (6,2.0), (4,1.0)
    assert final[(2, 1)] == (6, 2.0)
    assert final[(2, 2)] == (4, 1.0)


def test_streaming_sessions_match_batch(spark, tmp_path):
    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 10:00:00", 1.0),
            (2, 1, "2024-01-01 10:20:00", 2.0),
            (3, 1, "2024-01-01 11:30:00", 3.0),
            (4, 2, "2024-01-01 09:00:00", 4.0),
        ],
        "event_id: long, user_id: long, ts_s: string, value: double",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")

    batch = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["sum_value"])
        for r in streaming_session_counts(ev, gap="30 minutes").collect()
    }
    assert batch[(1, "2024-01-01 10:00:00")] == (2, 3.0)
    assert batch[(1, "2024-01-01 11:30:00")] == (1, 3.0)
    assert batch[(2, "2024-01-01 09:00:00")] == (1, 4.0)

    evdir = tmp_path / "events"
    ev.write.parquet(str(evdir / "b0"))
    sev = spark.readStream.schema(ev.schema).parquet(str(evdir) + "/*")
    q = (
        streaming_session_counts(sev, gap="30 minutes")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_out = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from sess").collect()
    }
    assert stream_out == batch


def test_streaming_exact_dedup_first_wins_across_batches(spark, tmp_path):
    from vettore_spark.streaming.stateful import streaming_exact_dedup

    src = tmp_path / "docs"
    schema = "doc_id: long, text: string"
    # batch 1: two distinct texts, one intra-batch duplicate (ids 3 > 1).
    # coalesce(1): each batch must be ONE file, else maxFilesPerTrigger=1
    # splits it into arbitrary micro-batches and first-wins is untestable.
    spark.createDataFrame(
        [(3, "hello world"), (1, "hello world"), (2, "other text")], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    # batch 2: re-sends "hello world" (suppressed) + one new text
    spark.createDataFrame(
        [(9, "hello world"), (4, "third text")], schema
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).option("maxFilesPerTrigger", "1").parquet(str(src) + "/*")
    q = (
        streaming_exact_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.sql("select * from dedup").collect()}
    # 1 beats 3 (intra-batch min), 9 suppressed by state from batch 1
    assert kept == {1, 2, 4}


def test_windowed_counts_drop_late_events_past_watermark(spark, tmp_path):
    """Append-mode watermark semantics: an event arriving AFTER the
    watermark has advanced past its window must be dropped, and a window is
    only emitted once finalized. Batch 1 advances the watermark to
    12:00 - 1h = 11:00, closing the 09:00 hour; batch 2's 09:30 straggler
    is behind the watermark and must NOT reopen it."""
    from vettore_spark.streaming.ingest import windowed_event_counts

    src = tmp_path / "late"
    schema = "event_id: long, ts_s: string, event_type: string, value: double"
    b1 = [
        (1, "2024-01-01 09:10:00", "click", 1.0),
        (2, "2024-01-01 09:20:00", "click", 2.0),
        (3, "2024-01-01 12:00:00", "click", 4.0),
    ]
    b2 = [
        (4, "2024-01-01 09:30:00", "click", 100.0),  # late: watermark 11:00
        (5, "2024-01-01 13:00:00", "click", 8.0),
    ]
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run_batch(name, rows):
        # one writeStream RUN per batch, shared checkpoint + file sink
        # (recoverable, unlike the memory sink): guarantees the watermark
        # from the previous run is applied to this run's data
        # (same-directory files can coalesce into one trigger otherwise)
        spark.createDataFrame(rows, schema).selectExpr(
            "event_id", "to_timestamp(ts_s) AS ts", "event_type", "value"
        ).coalesce(1).write.parquet(str(src / name))
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        ).parquet(str(src) + "/*")
        q = (
            windowed_event_counts(stream, window="1 hour", watermark="1 hour")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch("b1", b1)
    run_batch("b2", b2)
    rows = {
        r["window_start"]: (r["n"], r["sum_value"])
        for r in spark.read.parquet(sink).collect()
    }
    # the 09:00 window was finalized from batch 1 only — the late event 4
    # (value 100.0) must not appear in it
    assert rows.get("2024-01-01 09:00:00") == (2, 3.0)


def test_streaming_simhash_candidates_across_batches(spark, tmp_path):
    """A near-dup whose twin arrived in an earlier micro-batch is caught
    (bucket state persists); the emitted pair agrees with the batch
    simhash_pairs verdict on the union of both batches."""
    words = [f"tok{i}" for i in range(40)]
    base = " ".join(words)  # 40 tokens: one change flips few simhash bits
    near = " ".join(w if i != 20 else "CHANGED" for i, w in enumerate(words))
    other = "completely different words describing some other topic entirely here"
    b1 = [(1, base), (3, other)]
    b2 = [(2, near)]
    schema = "doc_id long, text string"
    src = tmp_path / "sh"
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2"))

    from vettore_spark.streaming.stateful import streaming_simhash_candidates

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = (
        streaming_simhash_candidates(stream, max_hamming=8)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("shc")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select distinct doc_a, doc_b, hamming from shc").collect()
    got = {(r["doc_a"], r["doc_b"]) for r in rows}
    # batch twin on the union
    from vettore_spark.operators.dedup import simhash_pairs

    allb = spark.createDataFrame(b1 + b2, schema)
    want = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(allb, max_hamming=8).collect()
    }
    assert (1, 2) in got  # cross-batch near-dup found
    assert got == want
    hs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    assert hs[(1, 2)] <= 8


def test_streaming_simhash_emit_once_matches_default_distinct(spark, tmp_path):
    """emit_once=True emits each discovered pair exactly once — in its
    minimal shared block — and the emitted set equals the default mode's
    distinct pair set (below the cap every shared block's bucket holds
    both members, so minimal-block suppression loses nothing). Identical
    twins share ALL four blocks: default emits the pair 4x, emit_once
    once with block = 0."""
    words = [f"w{i}" for i in range(40)]
    base = " ".join(words)
    near = " ".join(w if i != 7 else "CHANGED" for i, w in enumerate(words))
    schema = "doc_id long, text string"
    src = tmp_path / "sh_once"
    spark.createDataFrame([(1, base), (2, base)], schema).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(
        [(3, near), (4, "entirely different other words about something else")],
        schema,
    ).write.parquet(str(src / "b2"))

    from vettore_spark.streaming.stateful import streaming_simhash_candidates

    def run(name, **kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        q = (
            streaming_simhash_candidates(stream, max_hamming=8, **kw)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.table(name).collect()

    dflt = run("shc_dflt_r14")
    once = run("shc_once_r14", emit_once=True)
    want = {(r.doc_a, r.doc_b, r.hamming) for r in dflt}
    got = [(r.doc_a, r.doc_b, r.hamming) for r in once]
    assert set(got) == want
    assert len(got) == len(set(got))  # exactly one emission per pair
    assert (1, 2, 0) in want  # the identical twins
    assert sum(1 for r in dflt if (r.doc_a, r.doc_b) == (1, 2)) == 4
    one = [r for r in once if (r.doc_a, r.doc_b) == (1, 2)]
    assert len(one) == 1 and one[0].block == 0


def test_streaming_simhash_emit_once_failfasts_at_cap(spark, tmp_path):
    """A binding max_bucket cap would make minimal-shared-block
    suppression DROP pairs silently (the minimal block froze a member
    out while a later block caught the pair), so emit_once refuses to
    run past the cap instead of losing pairs."""
    import pytest

    base = " ".join(f"w{i}" for i in range(40))
    schema = "doc_id long, text string"
    src = tmp_path / "sh_cap"
    spark.createDataFrame(
        [(i, base) for i in range(1, 5)], schema
    ).write.parquet(str(src / "b1"))

    from vettore_spark.streaming.stateful import streaming_simhash_candidates

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = (
        streaming_simhash_candidates(
            stream, max_hamming=8, max_bucket=2, emit_once=True
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("shc_cap_r14")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="emit_once"):
        q.awaitTermination()


def test_streaming_zscore_anomaly_matches_expanding_batch(spark, tmp_path):
    """Streamed Welford z-scores equal the batch expanding-window z-scores
    when micro-batches arrive time-ordered; the spike after enough history
    is flagged, the identical spike INSIDE the warmup window is not."""
    import math

    rows = []
    for i in range(30):
        rows.append((i, "a", i * 10, 5.0 + (i % 3) * 0.5))  # mild variation
    rows.append((30, "a", 300, 50.0))  # spike after 30 obs
    rows.append((31, "b", 5, 99.0))    # key b has no history -> never flagged
    schema = "event_id long, event_type string, t long, value double"
    src = tmp_path / "anom"
    half = len(rows) // 2
    # one part file per batch: multiple part files would become separate
    # micro-batches in arbitrary order, breaking the time-ordered premise
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(str(src / "b2"))

    from pyspark.sql import functions as F
    from vettore_spark.streaming.stateful import streaming_zscore_anomaly

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
        .select("event_id", "event_type", F.col("t").alias("ts"), "value")
    )
    q = (
        streaming_zscore_anomaly(stream, ts_col="ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("zanom")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["event_id"]: r for r in spark.sql("select * from zanom").collect()}
    assert len(got) == len(rows)
    assert got[30]["is_anomaly"]  # the spike
    assert not got[31]["is_anomaly"]  # no history for key b
    assert sum(1 for r in got.values() if r["is_anomaly"]) == 1

    # batch expanding-window twin (python oracle)
    hist = []
    for i in range(31):
        v = 5.0 + (i % 3) * 0.5 if i < 30 else 50.0
        if len(hist) >= 10:
            m = sum(hist) / len(hist)
            var = sum((x - m) ** 2 for x in hist) / (len(hist) - 1)
            z = (v - m) / math.sqrt(var) if var > 0 else 0.0
        else:
            z = 0.0
        assert abs(got[i]["z"] - z) < 1e-6, (i, got[i]["z"], z)
        hist.append(v)


def test_streaming_unit_dedup_matches_batch_and_suppresses_across_batches(
    spark, tmp_path
):
    """Parity with the batch paragraph_dedup keep rule in a single batch,
    and first-ever-wins suppression across micro-batches."""
    from vettore_spark.operators.dedup import paragraph_dedup
    from vettore_spark.streaming.stateful import streaming_unit_dedup

    src = tmp_path / "units"
    schema = "doc_id: long, text: string"
    # batch 1: doc 20 repeats doc 10's first 2-token window
    b1 = [(10, "a b c d"), (20, "a b x y")]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    # batch 2: re-sends "x y" (suppressed) and adds a new window
    b2 = [(30, "x y q r")]
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).option("maxFilesPerTrigger", "1").parquet(str(src) + "/*")
    q = (
        streaming_unit_dedup(stream, window=2)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("unitdedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {
        (r["doc_id"], r["unit"])
        for r in spark.sql("select * from unitdedup").collect()
    }
    assert kept == {
        (10, "a b"), (10, "c d"), (20, "x y"), (30, "q r"),
    }
    # single-batch parity: reassembling batch-1's kept units per doc equals
    # the batch operator's output on the same rows
    batch = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(
            spark.createDataFrame(b1, schema), window=2
        ).collect()
    }
    stream_b1 = {}
    for doc_id, unit in sorted(
        (d, u) for (d, u) in kept if d in (10, 20)
    ):
        stream_b1[doc_id] = (stream_b1.get(doc_id, "") + " " + unit).strip()
    assert stream_b1 == batch


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """The stateful funnel's final per-user stage equals the batch funnel
    definition (min stage-N event strictly after stage-(N-1)) when
    micro-batches arrive time-ordered; cross-batch progression works (a
    user's click in batch 2 follows their view in batch 1)."""
    rows = [
        # u1 completes the funnel across the two batches
        (1, 10, "view"), (1, 20, "click"),
        # u2: click BEFORE any view -> never advances past view
        (2, 5, "click"), (2, 15, "view"),
        # u3: only views
        (3, 7, "view"),
        # --- batch 2 ---
        (1, 30, "purchase"),
        (2, 40, "purchase"),  # no click after view -> stays at stage 1
        (4, 50, "click"),     # no view at all -> stage 0
    ]
    schema = "user_id long, ts long, event_type string"
    src = tmp_path / "funnel"
    spark.createDataFrame(rows[:5], schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(rows[5:], schema).coalesce(1).write.parquet(str(src / "b2"))

    from vettore_spark.streaming.stateful import streaming_funnel_stage

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = (
        streaming_funnel_stage(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_r4")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emission per user is the final funnel position
    import collections

    got = {}
    for r in spark.sql(
        "select * from funnel_r4"
    ).collect():
        got[r["user_id"]] = r["stage"]  # memory sink appends in batch order
    assert got == {1: 3, 2: 1, 3: 1, 4: 0}


def test_streaming_horizon_dedup_state_expires_with_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark-backed dedup: duplicates inside the
    horizon are suppressed across micro-batches; once the watermark passes
    a keeper's horizon the engine EVICTS its state and a later duplicate
    is a new keeper — the time-bounded-state contract that distinguishes
    this from streaming_exact_dedup's unbounded distinct-digest state."""
    import os

    from vettore_spark.streaming.stateful import streaming_horizon_dedup

    src = tmp_path / "docs"
    schema = "doc_id long, ts_sec long, text string"
    t0 = 1_699_999_200  # hour-aligned anchor
    batches = [
        # batch 0: two keepers
        [(0, t0, "alpha"), (1, t0 + 600, "beta")],
        # batch 1: in-horizon duplicate of alpha (suppressed) + a row far
        # enough ahead (3:00) to push the watermark past alpha's horizon
        [(2, t0 + 1200, "alpha"), (3, t0 + 3 * 3600, "gamma")],
        # batch 2: advances the commit cycle once more — state eviction
        # (like late-event filtering, see tools/streambench.py) runs a
        # batch behind the data that moved the watermark
        [(6, t0 + 4 * 3600, "delta")],
        # batch 3: alpha again, AFTER its state expired -> new keeper;
        # an intra-batch re-duplicate right next to it stays suppressed
        [(4, t0 + 4 * 3600 + 1800, "alpha"), (5, t0 + 4 * 3600 + 1860, "alpha")],
    ]
    for i, rows in enumerate(batches):
        d = src / f"b{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        for f in os.listdir(d):
            p = str(d / f)
            os.utime(p, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(src) + "/*")
        .withColumn("ts", F.timestamp_seconds(F.col("ts_sec")))
    )
    q = (
        streaming_horizon_dedup(stream, horizon="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hdedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.sql("select * from hdedup").collect()}
    assert kept == {0, 1, 3, 4, 6}, kept


def test_streaming_horizon_dedup_rejects_batch_input(spark):
    """No silent batch twin: horizon-restart semantics need the state
    store, and a batch dropDuplicates would silently return different
    keepers — the operator must refuse batch input loudly."""
    import pytest as _pytest

    from vettore_spark.streaming.stateful import streaming_horizon_dedup

    df = spark.createDataFrame(
        [(1, 1000, "a")], "doc_id long, ts_sec long, text string"
    ).withColumn("ts", F.timestamp_seconds(F.col("ts_sec")))
    with _pytest.raises(ValueError, match="streaming"):
        streaming_horizon_dedup(df, horizon="1 hour")


def _gate(name, *args, **kw):
    """A stateful gate called through its module, bound to its arguments."""
    from vettore_spark.streaming import stateful as S

    return lambda stream: getattr(S, name)(stream, *args, **kw)


# gate -> (input schema, file 1 rows, file 2 rows, gate, output mode).
# File 2 leans on file 1's state: a duplicate, a later arrival for the
# same key or bucket, a funnel step that needs the recovered stage-1 time.
RESTART_GATES = {
    "topk_per_key": (
        "event_id long, user_id long, value double",
        [(1, 1, 10.0), (2, 1, 5.0), (3, 2, 1.0)],
        [(4, 1, 9.0), (5, 2, float("inf")), (6, 3, 2.0)],
        _gate("streaming_topk_per_key", k=2),
        "update",
    ),
    "exact_dedup": (
        "doc_id long, text string",
        [(1, "alpha"), (3, "beta")],
        [(2, "alpha"), (4, "gamma")],
        _gate("streaming_exact_dedup"),
        "append",
    ),
    "unit_dedup": (
        "doc_id long, text string",
        [(1, "a b c d e f"), (2, "g h i j k l")],
        [(3, "a b c x y z"), (4, "g h i d e f")],
        _gate("streaming_unit_dedup", window=3),
        "append",
    ),
    "simhash": (
        "doc_id long, text string",
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        [(3, "the quick brown fox jumps over the lazy dog"),
         (4, "pack my box with five dozen liquor jugs")],
        _gate("streaming_simhash_candidates"),
        "append",
    ),
    "zscore": (
        "event_type string, event_id long, ts long, value double",
        [("a", i, i, v) for i, v in enumerate([1.0, 2.0, 1.0, 2.0, 1.5])],
        [("a", 5, 5, 1.5), ("a", 6, 6, 9.0), ("b", 7, 7, 1.0)],
        _gate("streaming_zscore_anomaly", threshold=2.0, min_history=3),
        "append",
    ),
    "funnel": (
        "user_id long, ts long, event_type string",
        [(1, 10, "view"), (2, 10, "view"), (3, 10, "click")],
        [(1, 20, "click"), (1, 30, "purchase"), (2, 5, "click"), (3, 40, "view")],
        _gate("streaming_funnel_stage"),
        "append",
    ),
    "kmv": (
        "event_type string, user_id long",
        [("click", u) for u in range(6)] + [("view", 1)],
        [("click", u) for u in range(3, 9)] + [("view", 2)],
        _gate("streaming_kmv_distinct", k=4),
        "update",
    ),
    "histogram": (
        "event_type string, value double",
        [("click", 0.5), ("click", 1.5), ("view", 2.5)],
        [("click", 3.5), ("view", 0.5), ("view", float("nan"))],
        _gate("streaming_histogram_quantiles", quantiles=[0.5, 0.9],
              bucket_width=1.0),
        "update",
    ),
    "moment": (
        "label int, embedding array<double>",
        [(1, [0.5, 0.25]), (2, [1.0, -1.0])],
        [(1, [0.75, -0.5]), (2, [0.125, 0.0])],
        _gate("streaming_moment_stats", dim=2),
        "update",
    ),
}


def _write_file(spark, path, rows, schema, mtime):
    """Write `rows` as ONE parquet file at `path` with modification time
    `mtime`: a file stream with maxFilesPerTrigger=1 reads files oldest
    first, one micro-batch each."""
    import os
    import shutil

    tmp = str(path) + ".tmp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.replace(os.path.join(tmp, part), str(path))
    shutil.rmtree(tmp)
    os.utime(str(path), (mtime, mtime))


@pytest.mark.parametrize("gate", list(RESTART_GATES))
def test_groupstate_survives_query_restart(spark, tmp_path, gate):
    """RESTART RECOVERY of every applyInPandasWithState gate: the 100 TB
    posture claims these operators run unbounded, which needs the
    Arrow-serialized state to survive a query restart through the state
    store, not just live across micro-batches of one run. Two writeStream
    RUNS share one checkpoint, one file each; their sink must equal one
    uninterrupted run over both files (the same two micro-batches), and
    the second run's rows must differ from file 2 run on a fresh
    checkpoint (the restored state was used)."""
    schema, rows1, rows2, build, mode = RESTART_GATES[gate]
    files = {"f1": (rows1, 1_700_000_000), "f2": (rows2, 1_700_000_100)}

    def put(src, name):
        (tmp_path / src).mkdir(exist_ok=True)
        rows, mtime = files[name]
        _write_file(spark, tmp_path / src / f"{name}.parquet", rows, schema, mtime)

    def run(src):
        sink: list = []
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / src))
        )
        q = (
            build(stream)
            .writeStream.outputMode(mode)
            .foreachBatch(lambda df, _epoch: sink.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{src}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return sorted(repr(tuple(r)) for r in sink)

    put("once", "f1")
    put("once", "f2")
    once = run("once")
    put("split", "f1")
    first = run("split")
    put("split", "f2")
    second = run("split")
    put("fresh", "f2")
    assert once and second, gate
    assert sorted(first + second) == once, gate
    assert second != run("fresh"), gate


def test_engine_dedup_state_survives_query_restart(spark, tmp_path):
    """Same restart-recovery proof for the ENGINE's state store path
    (dropDuplicatesWithinWatermark): a duplicate arriving in a second
    RUN, within the horizon of its run-1 predecessor, is suppressed —
    the watermark and the dedup state both came back from the
    checkpoint."""
    from vettore_spark.streaming.stateful import streaming_horizon_dedup

    src = tmp_path / "hdocs"
    ckpt = str(tmp_path / "hckpt")
    sink = str(tmp_path / "hsink")
    schema = "doc_id long, ts_sec long, text string"
    t0 = 1_700_000_000

    def run(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / name)
        )
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(src) + "/*")
            .withColumn("ts", F.timestamp_seconds(F.col("ts_sec")))
        )
        q = (
            streaming_horizon_dedup(stream, horizon="1 hour")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run("b1", [(1, t0, "alpha"), (2, t0 + 60, "beta")])
    # restart: doc 3 duplicates alpha 10 minutes after its keeper (inside
    # the 1-hour horizon recorded by run 1 — suppress), doc 4 is new
    run("b2", [(3, t0 + 600, "alpha"), (4, t0 + 600, "gamma")])
    kept = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert kept == {1, 2, 4}, kept


def test_funnel_same_ts_ties_skip_in_any_order(spark):
    """The r10 driver gate's oracle-equivalence claim: a stage-N event at
    EXACTLY the user's stage-(N-1) time never advances the funnel (strict
    >), and because both processing orders of the tie produce 'skip'
    (click-before-view: t1 unset; click-after-view: ts > t1 false),
    intra-batch arrival order cannot leak into the output. Pinned by
    running the same tied rows in both physical orders."""
    from vettore_spark.streaming.stateful import streaming_funnel_stage

    schema = "user_id long, ts long, event_type string"
    tied = [
        (1, 10, "view"), (1, 10, "click"),         # tie: click never counts
        (2, 10, "view"), (2, 11, "click"), (2, 11, "purchase"),
        # u2's purchase ties its qualifying click -> stays stage 2
    ]
    for name, rows in (("fwd", tied), ("rev", list(reversed(tied)))):
        df = spark.createDataFrame(rows, schema)
        # one-batch availableNow replay through the real engine; the
        # coalesce(1) write preserves row order, so the reversed variant
        # genuinely presents the ties in the opposite processing order
        import tempfile

        d = tempfile.mkdtemp(prefix=f"funnel_tie_{name}_")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(schema).parquet(d)
        q = (
            streaming_funnel_stage(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"funnel_tie_{name}")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        got = {
            r["user_id"]: r["stage"]
            for r in spark.sql(f"select * from funnel_tie_{name}").collect()
        }
        assert got == {1: 1, 2: 2}, (name, got)
