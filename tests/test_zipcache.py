"""The stat-gated ``zipimporter.invalidate_caches`` the package installs:
an unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a rewritten one is, and a Spark worker that ran a package kernel keeps its
archive directories between tasks."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from crrf_det_spark import _zipcache


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zc_mod_a.py", "VALUE = 'a'\n")
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport's directory reader."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    import zc_mod_a

    assert zc_mod_a.VALUE == "a"
    importlib.invalidate_caches()  # first call per archive reads as before
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 0


def test_rewritten_archive_is_reread(zip_on_path, reads):
    import zc_mod_a  # noqa: F401

    importlib.invalidate_caches()
    with zipfile.ZipFile(zip_on_path, "a") as zf:
        zf.writestr("zc_mod_b.py", "VALUE = 'b'\n")
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    import zc_mod_b

    assert zc_mod_b.VALUE == "b"


def test_install_wraps_once():
    _zipcache.install()
    _zipcache.install()
    gated = zipimport.zipimporter.invalidate_caches
    assert gated._stat_gated
    assert not getattr(gated.__wrapped__, "_stat_gated", False)


def test_spark_worker_keeps_archive_directories(spark):
    """Each task reports whether the wrapper was already in place when it
    started (before it imports the package itself, as unpickling any
    package kernel does) and how many archive reads one
    ``invalidate_caches()`` costs once it is.  A worker may start without
    the wrapper only on its first task."""

    def probe(it):
        before = getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)
        import crrf_det_spark  # noqa: F401

        seen = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: seen.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        archives = sum(1 for p in zipimport._zip_directory_cache if os.path.isfile(p))
        yield os.getpid(), before, len(seen), archives
        for _ in it:
            pass

    n = 12
    got = spark.sparkContext.parallelize(range(n), n).mapPartitions(probe).collect()
    assert len(got) == n
    assert all(archives >= 1 for _pid, _before, _reads, archives in got)
    warm = [reads for _pid, before, reads, _a in got if before]
    assert warm, "no task reused a worker that had imported the package"
    assert warm == [0] * len(warm)
    cold_pids = [pid for pid, before, _reads, _a in got if not before]
    assert len(cold_pids) == len(set(cold_pids))
