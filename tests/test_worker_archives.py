"""The package's worker-side zip directory cache (package ``__init__``).

Inside a Spark Python worker, importing the package keeps the directory
cache of the Spark distribution's archives across tasks, so the per-task
``importlib.invalidate_caches()`` no longer re-reads them; every other
archive, and the driver, keep stock behaviour.
"""

import os
import resource
import statistics
import zipimport


def test_worker_cpu_per_task_stays_small(spark):
    def probe(_):
        ru = resource.getrusage(resource.RUSAGE_SELF)
        import document_extractor_spark  # noqa: F401

        yield os.getpid(), ru.ru_utime + ru.ru_stime

    rows = spark.sparkContext.parallelize(range(16), 16).mapPartitions(probe).collect()
    by_pid = {}
    for pid, cpu in rows:
        by_pid.setdefault(pid, []).append(cpu)
    deltas = [b - a for cpus in map(sorted, by_pid.values())
              for a, b in zip(cpus, cpus[1:])]
    assert len(deltas) >= 8, rows
    # The stock per-task re-read of pyspark.zip and the spark-core jar costs
    # ~150-290 ms of worker CPU per task on a 4-core x86 host; kept, ~25 ms.
    assert statistics.median(deltas) < 0.060, sorted(deltas)


def test_other_zip_archives_keep_stock_invalidation(spark, tmp_path):
    archive = str(tmp_path / "probe_mods.zip")

    def reimport(_):
        import importlib
        import sys
        import zipfile

        import document_extractor_spark

        # re-importing the package must not wrap the method again
        installed = zipimport.zipimporter.invalidate_caches
        importlib.reload(document_extractor_spark)
        assert zipimport.zipimporter.invalidate_caches is installed

        def write(*mods):
            with zipfile.ZipFile(archive, "w") as z:
                for mod in mods:
                    z.writestr(f"{mod}.py", f"NAME = {mod!r}\n")

        write("probe_mod_a")
        sys.path.insert(0, archive)
        try:
            import probe_mod_a

            write("probe_mod_a", "probe_mod_b")
            importlib.invalidate_caches()
            import probe_mod_b

            yield probe_mod_a.NAME, probe_mod_b.NAME
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("probe_mod_a", None)
            sys.modules.pop("probe_mod_b", None)

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(reimport).collect()
    assert got == [("probe_mod_a", "probe_mod_b")]


def test_driver_keeps_stock_zipimporter():
    import document_extractor_spark  # noqa: F401

    method = zipimport.zipimporter.invalidate_caches
    assert (method.__module__, method.__qualname__) == (
        "zipimport", "zipimporter.invalidate_caches")
