"""The engine's Python worker daemon (gridfour_spark.pydaemon).

Before every task PySpark's worker calls importlib.invalidate_caches(). On
Python 3.11 that re-reads the central directory of every zip on the worker
path; the daemon's patch re-reads an archive only when it changed on disk.
These tests pin both halves: an unchanged zip is not re-read, a rewritten
one is, and every worker of a get_spark session runs the patch, even for a
task that never imports gridfour_spark.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from gridfour_spark import pydaemon

PATCHES = sys.version_info < (3, 12)


@pytest.fixture()
def patched(monkeypatch):
    """Install the patch in this process; monkeypatch restores the stock
    method and the module's read table afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_read", {})
    pydaemon.install()
    pydaemon.install()  # idempotent: the second call must not wrap the first


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_patch_installed_only_before_3_12(patched):
    method = zipimport.zipimporter.invalidate_caches
    assert (method is pydaemon._invalidate_if_changed) == PATCHES


@pytest.mark.skipif(not PATCHES, reason="Python >= 3.12 reads zip directories lazily")
def test_unchanged_zip_not_reread_and_rewritten_zip_imports(patched, tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pyd_zmod_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("pyd_zmod_a", "pyd_zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyd_zmod_a").NAME == "pyd_zmod_a"

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()  # first sight of the archive: one read
    n = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n, "an unchanged zip was re-read"

    _write_zip(archive, ["pyd_zmod_a", "pyd_zmod_b"])
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("pyd_zmod_b").NAME == "pyd_zmod_b"


def test_every_worker_runs_the_patch(spark):
    """A task that never imports gridfour_spark still runs on a worker
    forked from the engine's daemon."""
    def probe(batches):
        import os
        import zipimport

        for _ in batches:
            pass
        m = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame(
            {"fn": [os.path.realpath(m.__code__.co_filename) + ":" + m.__qualname__]})

    rows = spark.range(0, 16, numPartitions=8).mapInPandas(probe, "fn string").collect()
    assert len(rows) == 8
    engine = pydaemon._invalidate_if_changed
    ours = os.path.realpath(engine.__code__.co_filename) + ":" + engine.__qualname__
    if PATCHES:
        assert {r.fn for r in rows} == {ours}
    else:
        assert ours not in {r.fn for r in rows}
