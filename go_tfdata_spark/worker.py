"""Python-worker hygiene shared by every function the engine ships to Spark.

At the start of every task, `pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`. Under CPython 3.11 that makes every cached
`zipimport.zipimporter` re-read its archive's central directory; a PySpark
worker holds ~14 of them over pyspark.zip (1328 entries), so each task paid
~0.13 s of CPU before its first row. Dropping those finders at the start of
each kernel leaves the next task's invalidation nothing to re-read.

The drop is exact: `sys.path_importer_cache` only memoises `sys.path_hooks`
lookups. Imported modules keep their loaders, and a later import from the
same archive rebuilds its finder from `zipimport._zip_directory_cache`
without touching the file.

This module stays stdlib-only: `streaming/feed.py` ships it by value to the
Python data-source planner process, which does not get --py-files.
"""

from __future__ import annotations

import sys
import zipimport


def release_zip_finders() -> None:
    """Delete every zipimporter from `sys.path_importer_cache`. Every engine
    kernel (mapInArrow/mapInPandas body, pandas_udf, state function, data
    source `read`) calls this as its first statement."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
