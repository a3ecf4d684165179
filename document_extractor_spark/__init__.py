"""PySpark-native document extraction engine."""

import os
import sys
import zipimport


def _keep_spark_archive_directories():
    """Keep the Spark distribution's zip directory caches in a Python worker.

    Workaround for upstream behaviour: before every task,
    ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()``, and on CPython 3.11 that makes every
    cached ``zipimporter`` re-read its archive's central directory. For
    ``pyspark.zip`` and the ``spark-core`` jar on the worker ``PYTHONPATH``
    that is ~0.2 s of CPU per task on a 4-core x86 host. Archives under
    ``$SPARK_HOME/python/lib`` and ``$SPARK_HOME/jars`` cannot change under
    a running worker, so they skip the re-read; ``addPyFile`` zips (which
    standalone executors keep under ``$SPARK_HOME/work``) and every other
    archive keep it. Does nothing on the driver or without ``SPARK_HOME``,
    and installs once however often the package is imported.
    """
    files = sys.modules.get("pyspark.core.files")
    spark_home = os.environ.get("SPARK_HOME")
    if files is None or not files.SparkFiles._is_running_on_worker or not spark_home:
        return
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "keeps_spark_archives", False):
        return
    home = os.path.realpath(spark_home)
    keep_under = tuple(os.path.join(home, d, "") for d in ("python/lib", "jars"))
    keep = {}

    def invalidate_caches(self):
        if self.archive not in keep:
            keep[self.archive] = os.path.realpath(self.archive).startswith(keep_under)
        if not keep[self.archive]:
            stock(self)

    invalidate_caches.keeps_spark_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_keep_spark_archive_directories()
