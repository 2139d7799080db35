"""Round-4 code-review regressions: incremental-IVF payload columns under
filtered probe, whitespace-run word counting in the C4 line filter, string
user keys in the streaming funnel, the driver-side sign-bit packer, banded
near-dup dimension validation, and the PQ insert lineage ladder."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vettore_spark.collection import Collection
from vettore_spark.functions import kernels as K
from vettore_spark.operators import dedup as D
from vettore_spark.operators import text as TX
from tests.conftest import resident


def test_ivf_filtered_search_sees_incremental_put(spark):
    """A row put() AFTER the IVF index went resident must remain reachable
    through ivf_search(where=<metadata predicate>): the one-row inverted-
    file append carries the payload columns, so the predicate evaluates
    on real values instead of NULL (which would silently drop the row)."""
    rng = np.random.default_rng(7)
    rows = [
        {
            "id": f"v{i:02d}",
            "vector": [float(x) for x in rng.normal(size=8)],
            "metadata": {"parity": str(i % 2)},
        }
        for i in range(40)
    ]
    c = Collection.create(spark, "ivf_put_where", 8, metric="cosine")
    c.put_many(rows)
    probe = rows[0]["vector"]
    # warm the resident inverted file
    c.ivf_search(probe, limit=5, n_cells=4)
    assert resident(c, "ivf")

    nv = [float(x) for x in rng.normal(size=8)]
    c.put({"id": "fresh", "vector": nv, "metadata": {"parity": "odd"}})
    assert resident(c, "ivf"), "put() must keep the IVF resident"

    got = c.ivf_search(
        nv, limit=5, n_cells=4, n_probe=4, where="metadata['parity'] = 'odd'"
    ).collect()
    assert [r["id"] for r in got] == ["fresh"]
    # and the unfiltered probe still finds it first
    top = c.ivf_search(nv, limit=1, n_cells=4, n_probe=4).collect()
    assert top[0]["id"] == "fresh"


def test_ivf_incremental_append_matches_stored_row(spark):
    """The driver-side staged append row equals what put_many stored for
    the same input: value fallback, normalized vectors, packed sign bits,
    metadata — column by column against the canonical row."""
    rng = np.random.default_rng(11)
    rows = [
        {
            "id": f"v{i:02d}",
            "vector": [float(x) for x in rng.normal(size=8)],
            "metadata": {"k": str(i)},
        }
        for i in range(20)
    ]
    c = Collection.create(spark, "ivf_row_parity", 8, metric="cosine")
    c.put_many(rows)
    c.ivf_search(rows[0]["vector"], limit=3, n_cells=2)
    nv = [float(x) for x in rng.normal(size=8)]
    c.put({"id": "fresh", "vector": nv, "metadata": {"k": "new"}})

    canon = c.df.filter(F.col("id") == "fresh").collect()[0]
    (ivf,) = resident(c, "ivf").values()
    appended = ivf.assigned.filter(F.col("id") == "fresh").collect()[0]
    assert appended["value"] == canon["value"] == "fresh"
    assert appended["metadata"] == canon["metadata"] == {"k": "new"}
    assert appended["binary_vector"] == canon["binary_vector"]
    assert appended["vector"] == pytest.approx(list(canon["vector"]), abs=1e-6)


def test_pack_sign_bits_py_matches_column_kernel(spark):
    """Driver-side packer is bit-identical to compress_sign_bits for
    dims that fill words exactly and dims with a partial final word,
    including negative-zero and high-bit (sign) words."""
    rng = np.random.default_rng(3)
    for dims in (8, 64, 65, 130):
        vecs = [[float(x) for x in rng.normal(size=dims)] for _ in range(5)]
        vecs.append([-0.0] * dims)     # -0.0 >= 0 -> bit set, both sides
        vecs.append([1.0] * dims)      # all ones: exercises the sign word
        df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
        got = [
            r["b"]
            for r in df.select(
                K.compress_sign_bits("v", dims).alias("b")
            ).collect()
        ]
        want = [K.pack_sign_bits_py(v, dims) for v in vecs]
        assert got == want, f"dims={dims}"


def test_c4_line_filter_counts_whitespace_runs(spark):
    """Word counting splits on \\s+ (the C4 rule): runs of spaces or tabs
    are ONE separator, so 'a  b  c  d  e.' is five words (kept) not nine,
    and a tab-separated five-word line is kept too."""
    docs = spark.createDataFrame(
        [
            ("d1", "alpha  beta  gamma  delta  eps."),   # double spaces: 5 words
            ("d2", "one\ttwo\tthree\tfour\tfive."),      # tabs: 5 words
            ("d3", "a  b  c ."),                          # 4 words: dropped
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n_kept"]
        for r in TX.c4_line_filter(docs, min_words=5).collect()
    }
    assert out == {"d1": 1, "d2": 1, "d3": 0}


def test_streaming_funnel_stage_string_user_ids(spark, tmp_path):
    """The funnel's output schema mirrors the input user-id type: string
    user keys (the Collection id convention) stream through instead of
    failing the first micro-batch against a hardcoded long column."""
    from vettore_spark.streaming.stateful import streaming_funnel_stage

    rows = [
        ("alice", 10, "view"), ("alice", 20, "click"), ("alice", 30, "purchase"),
        ("bob", 5, "click"), ("bob", 15, "view"),
    ]
    schema = "user_id string, ts long, event_type string"
    src = tmp_path / "funnel_str"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = (
        streaming_funnel_stage(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_str_r4")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: r["stage"]
        for r in spark.sql("select * from funnel_str_r4").collect()
    }
    assert got == {"alice": 3, "bob": 1}


def test_banded_neardup_rejects_short_vectors(spark):
    """n_bits*n_bands beyond the embedding width is a clear call-time
    ValueError, not an ANSI element_at failure mid-stage (or a silent
    band collapse with ANSI off)."""
    df = spark.createDataFrame(
        [("a", [0.1, -0.2, 0.3, 0.4]), ("b", [0.1, -0.2, 0.3, 0.5])],
        ["vec_id", "embedding"],
    )
    with pytest.raises(ValueError, match="dims"):
        D.embedding_neardup_banded(df, n_bits=8, n_bands=2)
    # and a fitting configuration still works
    out = D.embedding_neardup_banded(
        df, n_bits=2, n_bands=2, threshold=0.5
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {("a", "b")}


def test_pq_insert_cuts_lineage_every_eight(spark):
    """PqIndex.insert runs the same union-depth ladder as put_many: after
    nine single-row appends the code table's plan is a shallow cut, not a
    nine-deep unionByName tree."""
    from vettore_spark.sources.store import PqIndex

    rng = np.random.default_rng(5)
    base = spark.createDataFrame(
        [
            (f"v{i:02d}", [float(x) for x in rng.normal(size=8)])
            for i in range(40)
        ],
        ["id", "vector"],
    )
    idx = PqIndex(m=2, n_codes=8).build(base)
    for i in range(9):
        idx = idx.insert(f"n{i}", [float(x) for x in rng.normal(size=8)])
    plan = idx._codes._jdf.queryExecution().logical().toString()
    # a raw 9-append chain would show 9 Union nodes; the ladder cuts at 8
    assert plan.count("Union") <= 2, plan
    assert idx._codes.count() == 49
