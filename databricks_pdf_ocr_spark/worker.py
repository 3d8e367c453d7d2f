"""What every Python body the engine ships to a Spark worker calls first.

A PySpark Python worker is reused across tasks, and every task starts in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``.  CPython 3.11's
``zipimporter.invalidate_caches`` re-reads its archive's central
directory, and a warm worker holds 15-16 zip importers in
``sys.path_importer_cache``: the ``pyspark.zip`` sub-packages, the
spark-core jar and py4j (26,672 directory entries in all), plus the
``--py-files`` zip when the package ships as one.  That costs each task
0.13-0.30 CPU-s before any user code runs.

``drop_zip_importers`` deletes those importers from the cache.  Their
directories stay in ``zipimport._zip_directory_cache``, so a later import
from a zip builds a fresh importer without reading the archive again, and
the next task's ``invalidate_caches()`` finds nothing to re-read.  The
first task on a fresh worker still pays in full.

Call it at the top of every ``mapInPandas`` / ``pandas_udf`` body, after the
body's own imports: an import that walks ``sys.path`` re-creates the
importers it passes.  ``tests/test_python_task_floor.py`` fails on a body
under the package or ``jobs/`` that does not call it.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_importers() -> None:
    """Delete every ``zipimport.zipimporter`` from
    ``sys.path_importer_cache`` (see the module docstring)."""
    cache = sys.path_importer_cache
    for key in [k for k, v in cache.items()
                if isinstance(v, zipimport.zipimporter)]:
        del cache[key]
