"""Zip-directory invalidation installed by ``aspublic_spark`` on import.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; on Python < 3.13 that re-reads the central directory of every
zip archive an importer sits on (pyspark.zip, the spark-core jar, py4j,
the package zip). The package makes that read happen only when the
archive changed. These tests pin both halves: a reused worker stops
re-reading, and a rewritten archive is still re-read.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest


def test_reused_worker_does_not_reread_zip_directories(spark):
    # nested, so cloudpickle ships it by value (workers cannot import
    # this test module)
    def count_reads(batches):
        """Wrap ``zipimport._read_directory`` with a per-process counter
        once; report (pid, reads so far, zip importers held)."""
        import os
        import sys
        import zipimport

        import aspublic_spark  # noqa: F401  (installs the invalidation)
        import pyarrow as pa

        read = zipimport._read_directory
        if not hasattr(read, "calls"):
            original = read

            def read(archive):
                read.calls += 1
                return original(archive)

            read.calls = 0
            zipimport._read_directory = read
        for _ in batches:
            pass
        n_zip = sum(
            isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [read.calls], "zip_importers": [n_zip]}
        )

    df = spark.range(0, 8, numPartitions=8).mapInArrow(
        count_reads, "pid long, reads long, zip_importers long"
    )
    jobs = [df.collect() for _ in range(3)]
    assert max(r.zip_importers for r in jobs[0]) > 0, "workers hold no zip importers"
    growth = {}
    for j, rows in enumerate(jobs):
        for r in rows:
            if r.pid not in growth:
                base = max(x.reads for x in rows if x.pid == r.pid)
                last = max(x.reads for later in jobs[j:] for x in later if x.pid == r.pid)
                growth[r.pid] = last - base
    assert all(g == 0 for g in growth.values()), growth


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def read_counter(monkeypatch):
    calls = []
    original = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch, read_counter):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_first", "zc_added"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_first").VALUE == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    importlib.invalidate_caches()  # first stamp of this archive may read
    read_counter.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert read_counter.count(archive) == 0

    _write_zip(archive, {"zc_first": "VALUE = 1\n", "zc_added": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert read_counter.count(archive) == 1
    assert importlib.import_module("zc_added").VALUE == 2

    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter.count(archive) == 0


def test_unstattable_zip_falls_back_to_original(tmp_path, read_counter):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"zc_gone": "VALUE = 3\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    os.remove(archive)
    read_counter.clear()
    importer.invalidate_caches()
    assert read_counter.count(archive) == 1
    assert importer.find_spec("zc_gone") is None
