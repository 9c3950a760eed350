"""The worker daemon's pre-fork steps (cosmos_xenna_spark/daemon.py).

The zip-directory tests run in a subprocess without Spark:
``keep_zip_directories`` patches ``zipimport`` process-wide, and the test
process's own importers must stay as CPython ships them. The Spark tests
probe the real daemon from inside a forked worker."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pandas as pd
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EAGER_ZIP_INVALIDATION = sys.version_info < (3, 13)


def _run(script: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        capture_output=True,
        text=True,
        cwd=_REPO,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_unchanged_archive_is_not_reread_and_changed_archive_is(tmp_path):
    out = _run(
        f"""
        import importlib, sys, zipfile, zipimport

        path = {str(tmp_path / "pkgs.zip")!r}

        def write(modules):
            with zipfile.ZipFile(path, "w") as z:
                z.writestr("outer/__init__.py", "")
                z.writestr("outer/inner/__init__.py", "VALUE = 1\\n")
                for m in modules:
                    z.writestr(f"outer/inner/{{m}}.py", f"NAME = {{m!r}}\\n")

        write([])
        sys.path.insert(0, path)
        import outer.inner
        from cosmos_xenna_spark.daemon import keep_zip_directories

        keep_zip_directories()

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        importlib.invalidate_caches()
        print("unchanged", len(reads))
        write(["fresh"])
        del reads[:]
        importlib.invalidate_caches()
        print("changed", reads.count(path))
        from outer.inner import fresh
        print("imported", fresh.NAME)
        """
    )
    got = dict(line.split() for line in out.splitlines())
    if _EAGER_ZIP_INVALIDATION:
        assert got["unchanged"] == "0"
        assert got["changed"] == "1"  # once per archive, not once per importer
    assert got["imported"] == "fresh"


def test_daemon_leaves_zipimport_alone_where_invalidation_is_lazy():
    out = _run(
        """
        import sys, zipimport
        from cosmos_xenna_spark.daemon import keep_zip_directories

        cls = zipimport.zipimporter
        shipped = cls.__dict__.get("invalidate_caches")
        real_version = sys.version_info
        sys.version_info = (3, 13, 0, "final", 0)
        keep_zip_directories()
        sys.version_info = real_version
        print("lazy_untouched", cls.__dict__.get("invalidate_caches") is shipped)

        if shipped is not None:
            del cls.invalidate_caches
        keep_zip_directories()
        print("absent_untouched", "invalidate_caches" not in cls.__dict__)
        """
    )
    got = dict(line.split() for line in out.splitlines())
    assert got == {"lazy_untouched": "True", "absent_untouched": "True"}


def _worker_probe(batches):
    import gc
    import importlib
    import zipimport

    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pd.DataFrame(
        {"reads": [len(reads)], "zips": [zips], "frozen": [gc.get_freeze_count()]}
    )


def test_worker_skips_zip_reread_and_inherits_frozen_heap(spark):
    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(_worker_probe, "reads long, zips long, frozen long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.frozen > 0 for r in rows), rows
    if _EAGER_ZIP_INVALIDATION:
        assert all(r.zips > 0 for r in rows), rows  # the probe saw pyspark's importers
        assert all(r.reads == 0 for r in rows), rows


def test_add_py_file_archive_imports_in_worker(spark, tmp_path):
    name = f"cxs_shipped_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}/__init__.py", "MARK = 'shipped'\n")
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import importlib

        mark = importlib.import_module(name).MARK
        for b in batches:
            yield pd.DataFrame({"mark": [mark] * len(b)})

    rows = spark.range(4, numPartitions=2).mapInPandas(use, "mark string").collect()
    assert [r.mark for r in rows] == ["shipped"] * 4
