"""The zip re-read guard of ``shmr_spark.pyship``: in a PySpark worker
``importlib.invalidate_caches()`` re-reads a zip archive only when the
archive changed, and the driver is never patched."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipimport

import pytest

from tests.conftest import REPO

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; no guard",
)

_PROBE = textwrap.dedent(
    """
    import importlib, json, sys, zipfile, zipimport

    zpath = sys.argv[1]
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("zmod_a.py", "X = 1\\n")
    sys.path.insert(0, zpath)
    import zmod_a

    reads = []
    stdlib_read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return stdlib_read(path)

    zipimport._read_directory = counted
    importlib.invalidate_caches()
    unguarded = len(reads)

    from pyspark.core.files import SparkFiles

    SparkFiles._is_running_on_worker = True  # what setup_spark_files sets
    from shmr_spark.pyship import install_zip_rescan_guard

    installed = install_zip_rescan_guard()
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    unchanged = len(reads)

    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("zmod_a.py", "X = 1\\n")
        z.writestr("zmod_b.py", "Y = 2\\n")
    importlib.invalidate_caches()
    import zmod_b

    print(json.dumps({"unguarded": unguarded, "installed": installed,
                      "unchanged": unchanged, "changed": reads,
                      "a": zmod_a.X, "b": zmod_b.Y}))
    """
)


def test_guard_rereads_a_zip_only_when_it_changed(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, zpath],
        capture_output=True, text=True, env=env, timeout=300, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["unguarded"] >= 1  # the counter sees the stdlib's re-reads
    assert got["installed"] is True
    assert got["unchanged"] == 0
    # the rewritten archive is re-read, once, and its new module imports
    assert got["changed"] == [zpath]
    assert (got["a"], got["b"]) == (1, 2)


def test_guard_is_installed_in_workers_not_in_the_driver(spark):
    from shmr_spark import pyship

    def guard_state(_):
        import zipimport as zi

        from shmr_spark import pyship as worker_pyship

        yield zi.zipimporter.invalidate_caches is worker_pyship._invalidate_if_changed

    assert spark.sparkContext.parallelize([0, 1], 2).mapPartitions(
        guard_state
    ).collect() == [True, True]
    assert zipimport.zipimporter.invalidate_caches is not pyship._invalidate_if_changed
    assert pyship.install_zip_rescan_guard() is False
