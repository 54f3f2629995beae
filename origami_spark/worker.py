"""Python worker daemon for local sessions (``spark.python.daemon.module``).

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``).  On Python 3.11 that makes
every cached ``zipimport.zipimporter`` re-read its archive's whole
directory: ~15 package finders over ``pyspark.zip`` (1,328 entries) and
one over the spark-core jar (5,359 entries), about 150-300 ms before a
kernel starts.  The forked worker inherits those finders from the
daemon and, after its first task, from its own earlier tasks.

Evicting them from ``sys.path_importer_cache`` before the task only
empties a cache: the next import that needs one rebuilds it through the
path hooks from zipimport's in-memory directory cache, without
re-reading the archive.  Wiring follows PySpark's custom-daemon pattern.
"""

import sys
import zipimport

from pyspark import daemon, worker


def main(infile, outfile):
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    worker.main(infile, outfile)


if __name__ == "__main__":
    daemon.worker_main = main
    daemon.manager()
