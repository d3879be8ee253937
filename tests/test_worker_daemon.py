"""The preload daemon's zip-directory guard: an unchanged archive is not
re-read on ``importlib.invalidate_caches()``, a rewritten one still is,
and the session's Python workers really run the guarded daemon, with its
pre-imported heap frozen."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from irio_mapreduce_spark import preload_daemon


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_guard_skips_unchanged_archive_and_rereads_rewritten(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_archive(archive, {"zipguard_old": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", preload_daemon._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    try:
        assert importlib.import_module("zipguard_old").X == 1
        importer = sys.path_importer_cache[archive]
        importer.invalidate_caches()  # first call reads once and stamps
        reads.clear()
        importer.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == [], "unchanged archive was re-read"

        _write_archive(archive, {"zipguard_old": "X = 1\n", "zipguard_new": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("zipguard_new").Y == 2
    finally:
        sys.modules.pop("zipguard_old", None)
        sys.modules.pop("zipguard_new", None)
        sys.path_importer_cache.pop(archive, None)


def test_session_workers_skip_zip_reread(spark):
    """Inside a Spark task ``importlib.invalidate_caches()`` costs well under
    the ~0.2 CPU-s the stock daemon's workers pay re-reading pyspark.zip on
    every call. The cheapest of three calls is kept: in this suite's order
    the first CPU-clock interval of a task read 9-12 ms that the timed call
    did not spend (see ``test_session_workers_inherit_frozen_heap``)."""

    def probe(_):
        import importlib
        import time

        cpu = []
        for _ in range(3):
            t0 = time.process_time()
            importlib.invalidate_caches()
            cpu.append(time.process_time() - t0)
        yield min(cpu)

    cpu_s = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    assert cpu_s < 0.02, f"invalidate_caches took {cpu_s:.3f} CPU-s in a worker"


def test_session_workers_inherit_frozen_heap(spark):
    """The daemon freezes its heap before forking, so a worker's task-end
    ``gc.collect()`` skips the ~73k objects it inherits (37-63 ms CPU per
    collection when they are scanned). The cheapest of three collections
    is kept: in this suite's order the first CPU-clock interval of a task
    read 9-12 ms that its collection did not spend (a thread-clock
    interval started after it read 0.03 ms over the same call), while
    every unfrozen collection scans the whole heap."""

    def probe(_):
        import gc
        import time

        cpu = []
        for _ in range(3):
            t0 = time.process_time()
            gc.collect()
            cpu.append(time.process_time() - t0)
        yield gc.get_freeze_count(), min(cpu)

    frozen, cpu_s = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    assert frozen > 10_000, f"only {frozen} objects frozen in a worker"
    assert cpu_s < 0.005, f"gc.collect() took {cpu_s:.4f} CPU-s in a worker"
