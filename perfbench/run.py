"""Benchmark runner for vettore_spark.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 15 --trace 0

Run from the repository root. One process, one client thread, a
`local[nproc]` session under the engine defaults. The workload's inputs
are generated from `--seed`; operations run in a closed loop for
`--seconds`; every answer is checked; then set-up is timed again on a
warm JVM, repeated, and its median reported.
The last line of stdout is one JSON object: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics (the loop is
then split op by op into traced and untraced, and the difference between
the two is reported as the tracing overhead).

All scratch files live under `.perfbench_work/` in the working directory
and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """local[nproc] session under the engine defaults, with every scratch
    path inside `work` and the repository on the Python workers' path."""
    from pyspark.sql import SparkSession

    from vettore_spark.session import with_engine_defaults

    n = nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONWARNINGS"] = "ignore"
    spark = (
        with_engine_defaults(SparkSession.builder.master(f"local[{n}]"))
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(_children(p))
    return tree


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident sets of this process, the JVM and the
    JVM's Python workers."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (own + sum(_hwm_kb(p) for p in process_tree(jvm_pid))) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway and wait for the JVM and its
    Python workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


class Loop:
    """Closed-loop op runner: times each call, checks each answer. With
    `alternate`, every other op runs traced, so traced and untraced ops
    share one warm process and their difference is the tracing overhead."""

    def __init__(self, wl, tracer, alternate: bool = False):
        self.wl = wl
        self.tracer = tracer
        self.alternate = alternate
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lat: list[tuple[str, float, bool]] = []  # (kind, ms, traced) per op
        self.rows = 0
        self.cycles = 0

    def run(self, seconds: float, min_cycles: int = 1) -> float:
        """Run whole cycles until `seconds` have passed (and at least
        `min_cycles`); returns the elapsed time. Stopping only between
        cycles keeps the op mix of every run the same."""
        t_start = time.perf_counter()
        while self.cycles < min_cycles or time.perf_counter() - t_start < seconds:
            for j, (kind, call, check) in enumerate(self.wl.cycle()):
                # flip the pattern every cycle, so each op of the mix runs
                # both ways whatever the cycle's length
                self._one(kind, call, check, self.alternate and (j + self.cycles) % 2 == 1)
            self.cycles += 1
        return time.perf_counter() - t_start

    def _one(self, kind, call, check, traced: bool) -> None:
        self.tracer.enabled = traced
        self.tracer.request = self.attempted
        self.attempted += 1
        try:
            with self.tracer.span(f"bench.{kind}"):
                t0 = time.perf_counter()
                res = call()
                dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            self.failed += 1
            self.failures.append(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
            return
        finally:
            self.tracer.request = None
        self.lat.append((kind, dt * 1000.0, traced))
        self.rows += self.wl.rows(kind)
        if not check(res):
            self.failed += 1
            self.failures.append(f"{kind}: wrong answer")

    def ms(self, kind: str | None = None) -> list[float]:
        return [ms for k, ms, _ in self.lat if kind is None or k == kind]


def _pct(xs, p) -> float:
    from tracing import percentile

    return percentile(xs, p) if xs else 0.0


def timed_setups(wl) -> list[float]:
    """Set-up time, SETUP_REPS times on fresh state with the library's
    persist cache cleared before each. Run after the loop, when the JVM is
    warm: right after a cold start the set-up time tracks how far the JIT
    compiler has got, and varied twofold from run to run."""
    times = []
    for _ in range(SETUP_REPS):
        wl.reset_caches()
        t0 = time.perf_counter()
        wl.setup()
        times.append(time.perf_counter() - t0)
    return times


def kind_p50_gmean(lat) -> float:
    """Median latency of each op kind, combined over the kinds by geometric
    mean: the typical op of the fixed mix. The pooled median of a mix whose
    kinds differ several-fold sits in a gap between kinds and jumps from run
    to run; this weighs every kind once. 0 without samples."""
    import math

    by_kind: dict[str, list[float]] = {}
    for kind, ms, _ in lat:
        by_kind.setdefault(kind, []).append(ms)
    if not by_kind:
        return 0.0
    return math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by_kind.values()))


def end_to_end(setup_times, loop: Loop, elapsed: float, rss: float) -> dict:
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "op_p50_gmean_ms": (kind_p50_gmean(loop.lat), "ms"),
        "rows_per_s": (loop.rows / elapsed, "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }


STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution")


def per_layer(wl, loop: Loop, tracer) -> dict:
    """Per-layer metrics of a traced run. Spark counters are per traced
    request; timings are medians per call. A layer the workload does not
    touch reads 0."""
    import workloads as W
    from tracing import harvest

    med = W.median_or_zero
    out: dict[str, float] = {}
    req = [s for s in tracer.spans if s.request is not None]
    n_req = max(1, len({s.request for s in req}))
    groups = {g for s in req for g in (s.group, *s.extra_groups)}
    for k, v in harvest(wl.spark, groups).items():
        out[k] = v if k == "spark.task_skew" else v / n_req
    out["collection.plan_ms"] = med(wl.extra.get("collection.plan_ms", []))
    out["collection.exec_ms"] = med(wl.extra.get("collection.exec_ms", []))
    for mode in W.SearchServe.MODES:
        out[f"op.{mode}.p50_ms"] = med(loop.ms(mode))

    def span_s(name):
        return med([s.end - s.start for s in tracer.spans if s.name == name])

    out["operators.hnsw.build_s"] = span_s("operators.hnsw.build_graph_shards")
    out["operators.ann.ivf_build_s"] = span_s("operators.mllib_lsh.kmeans_centroids")
    out["operators.pq.train_s"] = span_s("operators.pq.pq_train_kmeans")
    out["operators.sq.train_s"] = span_s("operators.sq.sq_train")
    calls = tracer.counts.get("plans.cache.calls", 0)
    out["plans.cache.hit_ratio"] = tracer.counts.get("plans.cache.hits", 0) / calls if calls else 0.0
    out["operators.search.multi_query_topk_s"] = med(loop.ms("search_many")) / 1000
    out["operators.ann.self_knn_s"] = med(loop.ms("self_knn")) / 1000
    for step in ("minhash_lsh_pairs", "simhash_pairs", "connected_components", "keep_canonical"):
        out[f"operators.dedup.{step}_s"] = med(loop.ms(step)) / 1000
    progress = getattr(wl, "progress", {})
    for gate in W.SearchBulk.GATES:
        prog = progress.get(gate, [])
        for phase in STREAM_PHASES:
            out[f"streaming.{gate}.{phase}_ms"] = med(
                [p["durationMs"].get(phase, 0) for p in prog])
        ops = [p["stateOperators"] for p in prog if p.get("stateOperators")]
        out[f"streaming.{gate}.state_rows"] = float(ops[-1][0]["numRowsTotal"]) if ops else 0.0
    ann = [v for k, vs in wl.extra.items() if k.startswith("recall.") and k != "recall.self_knn"
           for v in vs]
    out["quality.recall_at_10"] = statistics.fmean(ann) if ann else 0.0
    out["quality.knn_recall_at_10"] = med(wl.extra.get("recall.self_knn", []))
    out["quality.pair_recall"] = med(wl.extra.get("pair_recall", []))
    self_ms = tracer.layer_self_ms()
    for layer in LAYERS:
        out[f"self.{layer}_ms"] = self_ms.get(layer, 0.0) / n_req
    out["op.samples"] = float(len(loop.lat))
    out["trace.overhead_pct"] = overhead_pct(loop.lat)
    return out


# Span layers: `bench` is the benchmark's own request span; the rest are
# the library's top-level packages.
LAYERS = ("bench", "collection", "operators", "plans", "sources", "streaming")


def overhead_pct(lat) -> float:
    """Tracing overhead in percent from ops run both ways: per op kind, the
    log of traced median / untraced median, averaged separately over kinds
    whose first traced sample came before their first untraced one and
    kinds where it came after, then the two means averaged. A later cycle
    runs warmer, so the two groups carry opposite warm-up bias and the
    average cancels it. 0 when no kind ran both ways."""
    import math

    groups: dict[bool, list[float]] = {True: [], False: []}
    for kind in {k for k, _, _ in lat}:
        mine = [(i, ms, t) for i, (k, ms, t) in enumerate(lat) if k == kind]
        on = [ms for _, ms, t in mine if t]
        off = [ms for _, ms, t in mine if not t]
        if on and off:
            traced_first = next(t for _, _, t in mine)
            groups[traced_first].append(
                math.log(statistics.median(on) / statistics.median(off)))
    means = [statistics.fmean(g) for g in groups.values() if g]
    return 100.0 * (math.exp(statistics.fmean(means)) - 1.0) if means else 0.0


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    if name.startswith("python.bytes"):
        return "bytes"
    if name.startswith(("quality.", "plans.cache.hit")) or name.endswith("skew"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vettore_spark", "__init__.py")):
        print(f"perfbench: no vettore_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads as W
    from tracing import Tracer, instrument, tail_percentile

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    t_begin = time.perf_counter()
    try:
        spark = start_session(work)
        t_started = time.perf_counter()
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        restore = instrument(tracer) if args.trace else None
        wl = W.WORKLOADS[args.workload](spark, args.seed, work, tracer)
        # the state the loop uses; set up once on the cold JVM, untimed
        wl.reset_caches()
        wl.setup()
        t_prep = time.perf_counter()
        wl.prepare()
        t_loop = time.perf_counter()
        loop = Loop(wl, tracer, alternate=bool(args.trace))
        # a traced run needs two cycles so every op kind runs both ways
        elapsed = loop.run(args.seconds, min_cycles=max(wl.min_cycles, 2 if args.trace else 1))
        setup_times = []
        if args.trace:
            restore()
            metrics = {k: (v, _unit(k)) for k, v in per_layer(wl, loop, tracer).items()}
        else:
            from pyspark import SparkContext

            setup_times = timed_setups(wl)
            metrics = end_to_end(setup_times, loop, elapsed,
                                 peak_rss_mb(SparkContext._gateway.proc.pid))
        lat = loop.ms()
        print(f"# phases: start={t_started - t_begin:.1f}s setup={t_prep - t_started:.1f}s "
              f"prepare={t_loop - t_prep:.1f}s loop={elapsed:.1f}s "
              f"timed_setups={sum(setup_times):.1f}s", flush=True)
        print(f"# {args.workload} seed={args.seed} cycles={loop.cycles} ops={loop.attempted} "
              f"samples={len(lat)} elapsed={elapsed:.2f}s "
              f"setup={[round(t, 3) for t in setup_times]}")
        tail = tail_percentile(len(lat))
        if tail is not None:
            print(f"# tail: p{tail:g} = {_pct(lat, tail):.1f} ms (>= 10 samples beyond)")
        for f in loop.failures[:20]:
            print(f"# FAILED {f}")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    for k, m in out.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": loop.failed == 0, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
