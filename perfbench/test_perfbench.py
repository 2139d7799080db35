"""Tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402


@pytest.mark.parametrize("n,p", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    assert tracing.tail_percentile(n) == p


def test_percentile_matches_numpy_linear_rule():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    for p in (0, 10, 50, 90, 99.9, 100):
        assert tracing.percentile(xs, p) == pytest.approx(np.percentile(xs, p))
    with pytest.raises(ValueError):
        tracing.percentile([], 50)


def test_kind_p50_gmean_weighs_each_kind_once():
    lat = [("a", 100.0, False), ("a", 300.0, False), ("a", 200.0, True),
           ("b", 1.0, False)]
    # medians: a = 200, b = 1; geometric mean sqrt(200 * 1)
    assert run.kind_p50_gmean(lat) == pytest.approx(200 ** 0.5)
    # more samples of one kind do not shift the weight towards it
    assert run.kind_p50_gmean(lat + [("a", 200.0, False)] * 10) == pytest.approx(200 ** 0.5)
    assert run.kind_p50_gmean([]) == 0.0


def _span(sid, name, start, end, parent=None):
    return tracing.Span(sid, name, start, end, parent, None, None)


def test_self_time_removes_union_of_children():
    spans = [
        _span(0, "bench.op", 0.0, 10.0),
        _span(1, "collection.search", 1.0, 3.0, 0),
        _span(2, "operators.flat_topk", 2.0, 5.0, 0),  # overlaps span 1
        _span(3, "plans.cache", 8.0, 12.0, 0),  # runs past its parent
        _span(4, "operators.inner", 1.5, 2.5, 1),  # grandchild: only span 1's
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    t = tracing.Tracer()
    t.spans = spans
    by_layer = t.layer_self_ms()
    assert by_layer["operators"] == pytest.approx(4000.0)
    assert sum(by_layer.values()) == pytest.approx(1000.0 * sum(st.values()))


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer(enabled=False)
    with t.span("collection.search") as sp:
        t.count("plans.cache.calls")
    assert sp is None and t.spans == [] and t.counts == {}


def test_enabled_tracer_nests_spans_with_request_id():
    t = tracing.Tracer(enabled=True)
    t.request = 7
    with t.span("bench.op"):
        with t.span("collection.search"):
            pass
    inner, outer = t.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.request == outer.request == 7
    assert inner.group != outer.group


def test_parse_size_reads_first_size():
    assert tracing.parse_size("8.0 KiB") == 8192
    assert tracing.parse_size("total (min, med, max (stageId: taskId))\n"
                              "1.5 MiB (0.0 B, 2.0 KiB, 1.0 MiB (stage 3.0: task 7))") == 1572864
    assert tracing.parse_size(None) == 0 and tracing.parse_size("n/a") == 0


class _FakeWorkload:
    """Three ops per cycle: a right answer, an exception, a wrong answer."""

    def cycle(self):
        def op(value):
            def call():
                if value is None:
                    raise RuntimeError("boom")
                return value
            return call

        yield "ok", op(1), lambda r: r == 1
        yield "raises", op(None), lambda r: True
        yield "wrong", op(2), lambda r: r == 1

    def rows(self, kind):
        return 10


def test_loop_counts_exceptions_and_wrong_answers_as_failed():
    loop = run.Loop(_FakeWorkload(), tracing.Tracer())
    loop.run(0.0)
    assert loop.cycles == 1 and loop.attempted == 3
    assert loop.failed == 2
    assert [k for k, _, _ in loop.lat] == ["ok", "wrong"]  # a raised op has no latency
    assert loop.rows == 20
    assert any(f.startswith("raises: RuntimeError") for f in loop.failures)


def test_loop_runs_whole_cycles_and_alternates_tracing():
    loop = run.Loop(_FakeWorkload(), tracing.Tracer(), alternate=True)
    loop.run(0.0, min_cycles=2)
    assert loop.cycles == 2 and loop.attempted == 6
    # ops 0..5 alternate untraced/traced; the two raising ops leave no sample
    assert [t for _, _, t in loop.lat] == [False, False, True, True]


class _EvenWorkload:
    """Two ops per cycle, both answering right."""

    def cycle(self):
        yield "a", lambda: 1, lambda r: True
        yield "b", lambda: 1, lambda r: True

    def rows(self, kind):
        return 1


def test_loop_alternates_tracing_over_an_even_cycle():
    loop = run.Loop(_EvenWorkload(), tracing.Tracer(), alternate=True)
    loop.run(0.0, min_cycles=2)
    assert [(k, t) for k, _, t in loop.lat] == [
        ("a", False), ("b", True), ("a", True), ("b", False)]


def test_overhead_pct_compares_kinds_run_both_ways():
    lat = [("a", 100.0, False), ("a", 110.0, True), ("b", 50.0, False),
           ("b", 50.0, True), ("c", 1.0, True)]
    assert run.overhead_pct(lat) == pytest.approx(100 * (1.1 ** 0.5 - 1))
    assert run.overhead_pct([("a", 1.0, False)]) == 0.0


def test_overhead_pct_cancels_warm_up_between_cycles():
    # every op is 20% faster in the second cycle; tracing costs nothing.
    # Kinds traced first (cold) and traced second (warm) balance out.
    lat = [("a", 100.0, False), ("b", 100.0, True), ("c", 100.0, False),
           ("a", 80.0, True), ("b", 80.0, False), ("c", 80.0, True)]
    assert run.overhead_pct(lat) == pytest.approx(0.0, abs=1e-9)


def _tree_bytes(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (fh.read(), os.path.getmtime(p))
    return out


def _write_streams(root, seed):
    gen.event_stream(seed, os.path.join(root, "events"), 3, 200)
    gen.unit_doc_stream(seed, os.path.join(root, "docs"), 3, 20, window=5)
    gen.vector_stream(seed, os.path.join(root, "vecs"), 3, 50, dim=8)


def test_generator_same_seed_same_bytes(tmp_path):
    _write_streams(tmp_path / "a", 5)
    _write_streams(tmp_path / "b", 5)
    _write_streams(tmp_path / "c", 6)
    a, b, c = (_tree_bytes(tmp_path / x) for x in "abc")
    assert a == b and len(a) == 9
    assert {k: v[0] for k, v in a.items()} != {k: v[0] for k, v in c.items()}
    v1, v2 = gen.planted_vectors(3, 100, 8, 4), gen.planted_vectors(3, 100, 8, 4)
    assert np.array_equal(v1.x, v2.x) and v1.ids == v2.ids
    c1, c2 = gen.neardup_corpus(3, 50, 5), gen.neardup_corpus(3, 50, 5)
    assert c1.texts == c2.texts and c1.clusters == c2.clusters


def test_stream_files_replay_in_file_order(tmp_path):
    gen.event_stream(1, str(tmp_path), 4, 10)
    files = sorted(os.listdir(tmp_path))
    mtimes = [os.path.getmtime(tmp_path / f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    ev = gen.read_dir(str(tmp_path)).to_pandas()
    assert list(ev["event_id"]) == list(range(40))


def test_planted_vectors_are_unit_norm_and_clustered():
    v = gen.planted_vectors(0, 300, 16, 5)
    assert np.allclose(np.linalg.norm(v.x, axis=1), 1.0, atol=1e-5)
    own = np.einsum("ij,ij->i", v.x, v.centres[v.labels])
    assert own.mean() > 0.9


def test_neardup_corpus_plants_min_id_sources():
    c = gen.neardup_corpus(0, 40, 4, cluster_size=3)
    assert len(c.texts) == 40
    assert all(g[0] == min(g) and len(g) == 3 for g in c.clusters)
    a, b = set(c.texts[c.clusters[0][0]].split()), set(c.texts[c.clusters[0][1]].split())
    assert len(a & b) / len(a | b) > 0.8


def test_components_and_unit_truths():
    assert W._components([(3, 4), (1, 3), (7, 8)]) == {1: 1, 3: 1, 4: 1, 7: 7, 8: 7}
    import pandas as pd

    docs = pd.DataFrame({"doc_id": [2, 1], "text": ["a b c d", "c d a b"]})
    assert W._units_truth(docs, 2) == {(1, 0, "c d"), (1, 1, "a b")}


def test_exits_nonzero_without_the_library(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search_serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert res.returncode != 0
    assert res.stdout == ""


def test_benchmark_json_matches_the_end_to_end_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    loop = run.Loop(_FakeWorkload(), tracing.Tracer())
    loop.run(0.0)
    e2e = run.end_to_end([1.0, 2.0, 3.0], loop, 1.0, 100.0)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == [
        (k, u) for k, (_, u) in e2e.items()]
    assert set(bench["paths"]) == {"perfbench"}
    assert {w["name"] for w in bench["workloads"]} == set(W.WORKLOADS)
    names = [m["name"] for m in bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(m["unit"] == run._unit(m["name"]) for m in bench["per_layer"])
