"""The Python-worker hook (``vtshaver_spark.worker``): an unchanged zip
archive on the import path is not re-read by ``invalidate_caches``; a
changed or deleted one behaves as under the stock method. Anything
that patches runs in a subprocess or a Spark worker, so the pytest
interpreter stays stock."""

import os
import subprocess
import sys
import textwrap
import zipimport

import pytest

from vtshaver_spark import worker
from vtshaver_spark.sources import mvt

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def run_python(code, tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return proc.stdout


@pytest.mark.skipif(not EAGER, reason="zipimport re-reads lazily already")
def test_invalidate_caches_rereads_only_changed_archives(tmp_path):
    run_python(
        """
        import importlib, os, sys, zipfile, zipimport
        from vtshaver_spark import worker

        arc = os.path.abspath("mods.zip")
        with zipfile.ZipFile(arc, "w") as z:
            z.writestr("a.py", "X = 1\\n")
        sys.path.insert(0, arc)
        import a

        reads = []
        stock_read = zipimport._read_directory
        def counting(path):
            reads.append(path)
            return stock_read(path)
        zipimport._read_directory = counting

        importlib.invalidate_caches()
        assert reads == [arc], reads  # stock: an eager re-read
        worker.patch()
        worker.patch()
        importlib.invalidate_caches()
        assert reads == [arc], reads  # unchanged: no read

        with zipfile.ZipFile(arc, "w") as z:
            z.writestr("a.py", "X = 1\\n")
            z.writestr("b.py", "Y = 2\\n")
        importlib.invalidate_caches()
        assert reads == [arc, arc], reads  # changed: re-read
        import b
        assert b.Y == 2
        importlib.invalidate_caches()
        assert reads == [arc, arc], reads

        # deleted: as stock, a read attempt that drops the directory
        os.remove(arc)
        importlib.invalidate_caches()
        assert reads == [arc] * 3, reads
        assert arc not in zipimport._zip_directory_cache
        assert sys.path_importer_cache[arc]._files == {}
        """,
        tmp_path,
    )


def test_install_only_inside_a_task_with_eager_zipimport(tmp_path):
    out = run_python(
        """
        import zipimport
        from pyspark.taskcontext import TaskContext
        from vtshaver_spark import worker

        def patched():
            return zipimport.zipimporter.invalidate_caches is not worker._stock

        worker.install()
        outside = patched()
        TaskContext._getOrCreate()
        lazy = hasattr(zipimport.zipimporter, "_get_files")
        zipimport.zipimporter._get_files = lambda self: {}
        worker.install()
        with_lazy = patched()
        if not lazy:
            del zipimport.zipimporter._get_files
        worker.install()
        print(outside, with_lazy, patched())
        """,
        tmp_path,
    )
    assert out.split() == ["False", "False", str(EAGER)]


def test_codec_import_skips_style_compiler(tmp_path):
    out = run_python(
        """
        import sys
        import vtshaver_spark.sources.mvt
        print(sorted(m for m in (
            "vtshaver_spark.functions.expr", "vtshaver_spark.style.compile",
        ) if m in sys.modules))
        from vtshaver_spark import FilterError, Filters, ShaveError, style_to_filters
        print(Filters.__module__, style_to_filters.__module__,
              FilterError.__module__, ShaveError.__module__)
        """,
        tmp_path,
    )
    assert out.splitlines() == [
        "[]",
        "vtshaver_spark.style.filters vtshaver_spark.style.compile "
        "vtshaver_spark.errors vtshaver_spark.errors",
    ]


@pytest.mark.skipif(not EAGER, reason="zipimport re-reads lazily already")
def test_worker_hook_in_spark_tasks(spark):
    point = bytes([0x09, 2, 2])
    tiles = [
        (16, x, 7, mvt.rows_to_tile([
            {"layer": "poi_label", "feature_id": i, "geom_type": "Point",
             "geometry": point, "props": {"n": str(i)}, "prop_types": {"n": "string"}}
            for i in range(x + 1)
        ]))
        for x in range(4)
    ]
    df = spark.createDataFrame(tiles, "z int, x bigint, y bigint, tile binary")
    assert mvt.decode_tiles(df.repartition(4)).count() == 1 + 2 + 3 + 4

    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        mvt.MVTError  # the package (and its hook) loads with this kernel
        reads = []
        stock_read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
            second = len(reads) - first
            importers = [
                imp for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter)
            ]
            for imp in importers:
                worker._stock(imp)
            stock = len(reads) - first - second
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "hook": zipimport.zipimporter.invalidate_caches.__module__,
            "second": second,
            "importers": len(importers),
            "stock": stock,
        }])

    rows = spark.range(4).repartition(2).mapInArrow(
        probe, "hook string, second bigint, importers bigint, stock bigint"
    ).collect()
    assert rows
    if not any(r["importers"] for r in rows):
        pytest.skip("no zip archive on the Python workers' import path")
    for r in rows:
        assert r["hook"] == "vtshaver_spark.worker"
        assert r["second"] == 0
        assert r["stock"] == r["importers"]
    assert zipimport.zipimporter.invalidate_caches is worker._stock
