"""Per-task import cost: ``importlib.invalidate_caches()`` must not re-parse
zip archives that did not change (texoo_spark/__init__.py).

PySpark's worker calls it at the start of every task; without the
replacement each zipimporter on pyspark.zip re-reads the archive's whole
central directory, every task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import texoo_spark

MOD = "texoo_zip_probe_mod"


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MOD}.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "V = 1\n")
    reads = []
    real_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        m = importlib.import_module(MOD)
        assert m.V == 1
        importlib.invalidate_caches()
        n = reads.count(archive)
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == n

        # a different size is a different archive: re-read, new code loads
        _write_zip(archive, "V = 2  # rewritten\n")
        importlib.invalidate_caches()
        assert importlib.reload(m).V == 2
        assert reads.count(archive) == n + 1

        os.remove(archive)
        importlib.invalidate_caches()      # falls back, must not raise
    finally:
        sys.modules.pop(MOD, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_reimport_does_not_double_wrap():
    before = zipimport.zipimporter.invalidate_caches
    assert before.__module__ == "texoo_spark"
    original = before.__wrapped__
    assert original.__module__ == "zipimport"
    importlib.reload(texoo_spark)
    after = zipimport.zipimporter.invalidate_caches
    assert after.__module__ == "texoo_spark"
    assert after.__wrapped__ is original


@pytest.fixture(scope="session")
def spark():
    from texoo_spark.session import get_spark
    s = get_spark("texoo-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.mark.spark
def test_reused_workers_stop_rereading(spark):
    """Each Python worker counts ``zipimport._read_directory`` calls from
    its first task on; from its second task (the first whose invalidation
    runs the replacement) the count must stay flat."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import texoo_spark  # noqa: F401  what unpickling engine code does
        state = zipimport.__dict__.setdefault("_texoo_probe", {})
        if not state:
            real_read = zipimport._read_directory

            def counting(path):
                state["reads"] += 1
                return real_read(path)

            state.update(reads=0, tasks=0)
            zipimport._read_directory = counting
        state["tasks"] += 1
        for _ in batches:
            pass
        n_zip = sum(isinstance(v, zipimport.zipimporter)
                    for v in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "task": [state["tasks"]],
            "reads": [state["reads"]], "n_zip": [n_zip],
            "wrapper": [zipimport.zipimporter.invalidate_caches.__module__]})

    df = spark.range(0, 1600, numPartitions=16).mapInArrow(
        probe, "pid long, task long, reads long, n_zip long, wrapper string")
    rows = []
    # idle workers left by earlier jobs share the tasks round-robin, so
    # rerun until some worker has run three of them
    for _ in range(8):
        rows += df.collect()
        if max(r.task for r in rows) >= 3:
            break
    if not any(r.n_zip for r in rows):
        pytest.skip("workers import PySpark without zipimport")
    assert {r.wrapper for r in rows} == {"texoo_spark"}
    by_pid = {}
    for r in rows:
        if r.task >= 2:
            by_pid.setdefault(r.pid, {})[r.task] = r.reads
    assert any(len(t) >= 2 for t in by_pid.values()), rows
    for pid, reads in by_pid.items():
        assert len(set(reads.values())) == 1, (pid, sorted(reads.items()))
