"""The Python-worker bootstrap (worker_bootstrap.py).

Pins that a zip directory is reused only while its archive is
unchanged, that the bootstrap acts in Spark's Python workers and not in
the driver, and what importing the package, its kernels and its job
module loads.
"""

from __future__ import annotations

import gc
import importlib
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from local_pdftodocx_ocr_spark import worker_bootstrap

needs_zip_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the zip directory patch is for CPython < 3.12")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_zip_patch
def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zbs_first": "X = 1\n"})
    monkeypatch.setattr(worker_bootstrap, "_read", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_bootstrap._invalidate_caches)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    reads = []
    stock_read = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        assert importlib.import_module("zbs_first").X == 1
        importer = sys.path_importer_cache[archive]

        importlib.invalidate_caches()       # first call: the stock read
        assert len(reads) == 2
        for _ in range(3):                  # unchanged archive: no read
            importlib.invalidate_caches()
        assert len(reads) == 2

        _write_zip(archive, {"zbs_first": "X = 1\n", "zbs_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 3
        assert importlib.import_module("zbs_second").Y == 2

        (tmp_path / "lib.zip").unlink()     # missing archive: as the stock code
        importlib.invalidate_caches()
        assert len(reads) == 4 and importer._files == {}
        assert archive not in zipimport._zip_directory_cache
        assert importer.find_spec("zbs_first") is None
        _write_zip(archive, {"zbs_first": "X = 1\n"})
        importlib.invalidate_caches()
        assert len(reads) == 5 and importer.find_spec("zbs_first") is not None
    finally:
        for name in ("zbs_first", "zbs_second"):
            sys.modules.pop(name, None)


def test_freeze_runs_once():
    freezer = worker_bootstrap._FreezeAtNextTask()
    try:
        freezer.invalidate_caches()
        assert gc.get_freeze_count() > 0
        gc.unfreeze()
        freezer.invalidate_caches()
        assert gc.get_freeze_count() == 0
    finally:
        gc.unfreeze()


@needs_zip_patch
def test_bootstrap_acts_in_workers_not_driver(spark):
    """After one warm task, every worker reports the patched zip method
    and a frozen heap; the driver reports neither."""
    def report(batches):
        import gc
        import os
        import zipimport

        import pyarrow as pa

        from local_pdftodocx_ocr_spark import job  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(), "frozen": gc.get_freeze_count(),
            "patched": zipimport.zipimporter.invalidate_caches.__module__}])

    df = spark.range(0, 8, numPartitions=8).mapInArrow(
        report, "pid long, frozen long, patched string")
    warm = {r["pid"] for r in df.collect()}
    rows = df.collect()
    assert {r["patched"] for r in rows} == {worker_bootstrap.__name__}
    warmed = [r for r in rows if r["pid"] in warm]
    assert warmed and all(r["frozen"] > 0 for r in warmed), rows

    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert not any(isinstance(f, worker_bootstrap._FreezeAtNextTask) for f in sys.meta_path)
    assert gc.get_freeze_count() == 0


def test_import_footprint():
    """The package (and so the bootstrap) and the kernels import no
    pyspark; the job module imports no pandas."""
    code = ("import sys, local_pdftodocx_ocr_spark.kernels; "
            "assert not any(m.startswith('pyspark') for m in sys.modules); "
            "import local_pdftodocx_ocr_spark.job; "
            "assert 'pandas' not in sys.modules")
    subprocess.run([sys.executable, "-c", code], check=True,
                   cwd=Path(__file__).resolve().parent.parent)
