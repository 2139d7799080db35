from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from vettore_spark.session import ENGINE_SESSION_DEFAULTS

DAEMON = "spark.python.daemon.module"


@pytest.fixture(scope="session")
def spark():
    # the engine's Python worker daemon only: every Python UDF in the suite
    # runs in the workers the engine ships; the planner confs stay Spark's
    s = (
        SparkSession.builder.master("local[4]")
        .appName("vettore-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(DAEMON, ENGINE_SESSION_DEFAULTS[DAEMON])
        .getOrCreate()
    )
    yield s
    s.stop()


def strip_cached_plans(plan: str) -> str:
    """Drop InMemoryRelation cached-plan subtrees from a plan string.

    queries._t persists its tables (wide facts behind a round-robin
    repartition), and InMemoryRelation prints its cache-FILL plan —
    Exchange + FileScan — inside every consuming query's executed plan.
    Plan-shape pins assert on the QUERY's own operators; the one-time
    cache-fill internals are not part of any query's shuffle/scan count.

    Also drop every "== Initial Plan ==" section of a finalized
    AdaptiveSparkPlan (top-level or nested inside a cached relation):
    once a (memoized) DataFrame has been executed, toString prints the
    final plan FOLLOWED by the initial plan, and every operator would be
    counted twice by plan.count(...) pins — the pin's subject is the plan
    that actually ran. Section content prints at indent >= its marker, so
    the skip is indent-bounded like the InMemoryRelation skip (a global
    string cut would also delete sibling subtrees that FOLLOW a nested
    marker).
    """
    out = []
    skip_col = None  # drop while indent > skip_col (subtree)
    skip_ge = None  # drop while indent >= skip_ge (plan section)
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*(0123456789)")
        indent = len(line) - len(line.lstrip(" :+-"))
        if skip_ge is not None:
            if indent >= skip_ge:
                continue
            skip_ge = None
        if skip_col is not None:
            if indent > skip_col:
                continue
            skip_col = None
        if stripped.startswith("InMemoryRelation"):
            skip_col = indent
            continue
        if stripped.startswith("== Initial Plan =="):
            skip_ge = indent
            continue
        out.append(line)
    return "\n".join(out)


def resident(coll, kind: str) -> dict:
    """A Collection's resident indexes of one kind ('hnsw', 'ivf', 'pq' or
    'sq'), keyed by their params — read through its one registry."""
    return {key[1:]: ix for key, ix in coll._indexes.items() if key[0] == kind}
