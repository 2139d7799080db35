"""The engine owns its session-level SQL confs (r14 verdict item: the SHJ
preference lived only in bench.py, so non-bench sessions silently planned
differently). These tests pin the contract: the library declares the confs,
the helper applies them, and bench.py consumes the helper instead of
hard-coding per-engine SQL conf."""

import re

from vettore_spark import ENGINE_SESSION_DEFAULTS, with_engine_defaults


def test_declared_defaults_are_the_measured_set():
    assert ENGINE_SESSION_DEFAULTS == {
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.codegen.hugeMethodLimit": "8000",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.python.daemon.module": "vettore_spark.worker_daemon",
    }


def test_helper_applies_defaults_to_live_session(spark):
    # the shared test session was not built through the helper; apply to a
    # fresh builder and check the options land (builder state, no 2nd JVM)
    b = with_engine_defaults(spark.builder)
    opts = b._options
    for k, v in ENGINE_SESSION_DEFAULTS.items():
        assert opts.get(k) == v


def test_bench_sets_no_engine_sql_conf_directly():
    """bench.py may set deployment confs (master, memory, partitions, AQE,
    UI) but every per-engine SQL conf must come from the library helper."""
    src = open("bench.py").read()
    assert "with_engine_defaults" in src
    # the session block sets only the deployment-side allowlist
    for m in re.finditer(r'\.config\("([^"]+)"', src):
        key = m.group(1)
        assert key in {
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.driver.memory",
            "spark.ui.enabled",
        }, f"bench.py sets undeclared conf {key}"
