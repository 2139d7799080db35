"""The engine's Python worker daemon (vettore_spark.worker_daemon): an
unchanged archive keeps its zip directory across
`importlib.invalidate_caches()`, a rewritten one is read again, and an
engine session's workers run with the patch."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from vettore_spark import worker_daemon as W

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def patched(monkeypatch):
    """install() on a fresh stamp table; the original method comes back
    after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(W, "_stamps", {})
    return W.install()


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="patch is for < 3.12")
def test_unchanged_archive_is_not_read_again(tmp_path, monkeypatch, patched):
    assert patched
    assert zipimport.zipimporter.invalidate_caches.__module__ == W.__name__
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_mod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("wd_mod_a", "wd_mod_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("wd_mod_a").X == 1

    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1  # the first call stamps the archive

    # a rewrite with a new member changes size and mtime: read again
    st = os.stat(archive)
    _write_zip(archive, {"wd_mod_a.py": "X = 1\n", "wd_mod_b.py": "Y = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("wd_mod_b").Y == 2

    # an mtime change alone, or a directory dropped from the cache: read again
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 2 * 10**9))
    importlib.invalidate_caches()
    assert len(reads) == 3
    zipimport._zip_directory_cache.pop(archive)
    importlib.invalidate_caches()
    assert len(reads) == 4
    importlib.invalidate_caches()
    assert len(reads) == 4


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="patch is for < 3.12")
def test_second_install_keeps_the_first(patched):
    assert patched
    first = zipimport.zipimporter.invalidate_caches
    assert W.install() is False
    assert zipimport.zipimporter.invalidate_caches is first


def test_nothing_installed_from_python_3_12(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert W.install() is False
    assert zipimport.zipimporter.invalidate_caches is original


def test_engine_session_workers_run_the_daemon(tmp_path):
    """A with_engine_defaults session's Python workers fork from the
    engine daemon: a mapInPandas UDF sees the patched method."""
    script = textwrap.dedent("""
        import pandas as pd
        from pyspark.sql import SparkSession
        from vettore_spark.session import with_engine_defaults

        spark = (with_engine_defaults(SparkSession.builder.master("local[1]"))
                 .config("spark.ui.enabled", "false").getOrCreate())

        def where(batches):
            import zipimport
            for _ in batches:
                yield pd.DataFrame(
                    {"m": [zipimport.zipimporter.invalidate_caches.__module__]})

        print("MODULE", spark.range(1).mapInPandas(where, "m string").first()["m"])
        spark.stop()
    """)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    want = "zipimport" if sys.version_info >= (3, 12) else W.__name__
    assert f"MODULE {want}" in out.stdout
