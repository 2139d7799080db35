"""Statistics, spans and Spark counters for the benchmark.

- `percentile`, `tail_percentile`: the reporting rules.
- `Tracer`: in-memory spans (name, start, end, parent, request id), one
  Spark job group per span so the status store can attribute jobs,
  stages, tasks, CPU, GC, shuffle and spill to it; self time per layer.
- `instrument`: wraps the library's public entry points with spans from
  the benchmark's side, and counts persist-cache hits.

A disabled Tracer records nothing and sets no job group, so the untraced
run pays only a no-op context manager per call.
"""

from __future__ import annotations

import functools
import statistics
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

# Percentile ladder for the tail rule: report the highest of these that
# still has at least TAIL_BEYOND samples above it.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule), 0 <= p <= 100."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with >= TAIL_BEYOND of `n` samples above
    it, or None when even the median lacks that many."""
    best = None
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= TAIL_BEYOND:
            best = p
    return best


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    group: str | None
    extra_groups: list[str] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it covered by its direct
    children (children of one span may overlap; their union is removed)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s.sid, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


class Tracer:
    """Span recorder. `enabled=False` makes `span` a no-op."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []
        self._groups: list[str | None] = []
        self._next = 0
        self.request: int | None = None

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    def _set_group(self, group: str | None, desc: str) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{sid}"
        self._set_group(group, name)
        self._stack.append(sid)
        self._groups.append(group)
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.request, group)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self._groups.pop()
            self._set_group(self._groups[-1] if self._groups else None, name)
            self.spans.append(rec)

    def layer_self_ms(self) -> dict[str, float]:
        """Layer -> summed self time in ms."""
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + st[s.sid] * 1000.0
        return out


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapped


# Driver-side public entry points spanned in a traced run, by module.
# Only functions no UDF closure references: a wrapper captured by a task
# closure would be pickled with the tracer.
SPANNED = {
    "vettore_spark.operators.search": (
        "flat_topk", "quantized_search", "multi_query_topk",
        "multi_query_range",
    ),
    "vettore_spark.operators.hnsw": (
        "build_graph_shards", "search_graph_shards",
    ),
    "vettore_spark.operators.ann": (
        "ivf_assign", "ivf_topk", "self_knn_topk",
    ),
    "vettore_spark.operators.mllib_lsh": ("kmeans_centroids",),
    "vettore_spark.operators.sq": ("sq_train", "sq_topk"),
    "vettore_spark.operators.pq": ("pq_train_kmeans", "pq_encode"),
    "vettore_spark.operators.dedup": (
        "minhash_lsh_pairs", "simhash_pairs", "connected_components",
        "dedup_keep_canonical",
    ),
    "vettore_spark.streaming.stateful": (
        "streaming_topk_per_key", "streaming_kmv_distinct",
        "streaming_funnel_stage", "streaming_moment_stats",
        "streaming_unit_dedup",
    ),
}
SPANNED_METHODS = {
    ("vettore_spark.collection", "Collection"): (
        "search", "quantized_search", "hnsw_search", "ivf_search",
        "sq_search", "pq_search", "search_many", "range_search_many",
        "put_many",
    ),
    ("vettore_spark.sources.store", "PqIndex"): ("build", "candidates"),
}


def _short(module: str) -> str:
    return module.removeprefix("vettore_spark.")


def instrument(tracer: Tracer) -> Callable[[], None]:
    """Wrap the SPANNED entry points and the persist cache; returns an
    undo function restoring every original."""
    import importlib
    import sys

    undo = []

    def patch(owner, attr, new):
        undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    for mod_name, names in SPANNED.items():
        mod = importlib.import_module(mod_name)
        for n in names:
            patch(mod, n, _wrap(tracer, f"{_short(mod_name)}.{n}", getattr(mod, n)))
    for (mod_name, cls_name), names in SPANNED_METHODS.items():
        cls = getattr(importlib.import_module(mod_name), cls_name)
        for n in names:
            patch(cls, n, _wrap(tracer, f"{_short(mod_name)}.{cls_name}.{n}", getattr(cls, n)))

    from vettore_spark.plans import cache

    orig_persist = cache.cached_persist

    def cached_persist(src, key_params, build):
        before = {id(v[1]) for v in cache._PERSIST_CACHE.values()}
        with tracer.span("plans.cache.cached_persist"):
            out = orig_persist(src, key_params, build)
        tracer.count("plans.cache.calls")
        if id(out) in before:
            tracer.count("plans.cache.hits")
        return out

    # modules bind cached_persist under their own names at import time
    # (e.g. dedup's `_cached_persist`): patch every binding
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("vettore_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig_persist:
                patch(mod, attr, cached_persist)

    def restore():
        for owner, attr, val in reversed(undo):
            setattr(owner, attr, val)

    return restore


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def parse_size(text: str | None) -> int:
    """Bytes of the first size in a formatted SQL size metric
    ("total (min, med, max ...)\\n8.2 KiB (...)" or "8.2 KiB")."""
    import re

    if not text:
        return 0
    m = re.search(r"([\d][\d,]*(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)\b", text)
    if m is None:
        return 0
    return int(float(m.group(1).replace(",", "")) * _UNITS[m.group(2)])


def harvest(spark, groups: set[str]) -> dict[str, float]:
    """Totals over every job run under `groups`: jobs, stages (skipped ones
    excluded), tasks, executor run/CPU/GC ms, shuffle and spill bytes, mean
    per-stage task skew (max / median task run time over stages with >= 2
    tasks), and the Python-boundary bytes from the SQL executions that ran
    those jobs. Reads Spark's in-process status stores, which are kept with
    the UI disabled."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    jobs: set[int] = set()
    for g in groups:
        jobs.update(tracker.getJobIdsForGroup(g))
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {
        "spark.jobs": float(len(jobs)), "spark.stages": 0.0, "spark.tasks": 0.0,
        "spark.executor_run_ms": 0.0, "spark.executor_cpu_ms": 0.0,
        "spark.gc_ms": 0.0, "spark.shuffle_read_bytes": 0.0,
        "spark.shuffle_write_bytes": 0.0, "spark.spill_bytes": 0.0,
        "python.bytes_sent": 0.0, "python.bytes_received": 0.0,
    }
    skews = []
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += st.numTasks()
        out["spark.executor_run_ms"] += st.executorRunTime()
        out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
        out["spark.gc_ms"] += st.jvmGcTime()
        out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
        out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if st.numTasks() >= 2:
            tasks = conv.asJava(store.taskList(sid, st.attemptId(), 1 << 20))
            run = [
                t.taskMetrics().get().executorRunTime()
                for t in tasks if t.taskMetrics().isDefined()
            ]
            if len(run) >= 2 and statistics.median(run) > 0:
                skews.append(max(run) / statistics.median(run))
    out["spark.task_skew"] = statistics.fmean(skews) if skews else 1.0
    sql_store = spark._jsparkSession.sharedState().statusStore()
    for ex in conv.asJava(sql_store.executionsList()):
        if jobs.isdisjoint(int(j) for j in conv.asJava(ex.jobs()).keySet()):
            continue
        wanted = {
            int(m.accumulatorId()): _PY_METRICS[m.name()]
            for m in conv.asJava(ex.metrics()) if m.name() in _PY_METRICS
        }
        if not wanted:
            continue
        for e in conv.asJava(sql_store.executionMetrics(ex.executionId())).entrySet():
            key = wanted.get(int(e.getKey()))
            if key is not None:
                out[key] += parse_size(e.getValue())
    return out
