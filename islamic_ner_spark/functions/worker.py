"""Per-task fixed cost of a Python worker: the zips on its import path.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py::setup_spark_files``).  On Python 3.11
that makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's central directory.  A worker that has run the
engine's UDFs holds about 16 of them:

* spark-core's jar, twice (5,359 entries, ~42 ms per read).  Spark puts
  it on every worker's ``sys.path`` (``PythonUtils.sparkPythonPath``),
  and it holds no ``.py`` file;
* ``pyspark.zip`` and about a dozen of its package directories (1,328
  entries, ~11 ms per read each);
* py4j's source zip.

One such ``invalidate_caches()`` call took 110-190 ms on a 4-vCPU host,
and ``setup_spark_files`` 230-310 ms of each task.  On the
``longtail_vocab`` benchmark corpus the build's own Python code runs
only ~150 ms per annotate task and ~55 ms per fused-graph task, so the
re-read was most of every task.

:func:`drop_zip_importers` is the first statement of every
``mapInPandas`` body in the engine.  Workers are reused, so once a
worker has run it, each later task on that worker finds no zip finder
to re-read.  Imports stay correct: Python rebuilds a missing finder
lazily, on the next import that walks that path entry, from
``zipimport``'s own directory cache, so the archive is not re-read.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_importers() -> None:
    """Drop every ``.jar`` entry from ``sys.path`` and every zip finder
    from ``sys.path_importer_cache`` in the calling process."""
    sys.path[:] = [
        p for p in sys.path if not (isinstance(p, str) and p.endswith(".jar"))
    ]
    cache = sys.path_importer_cache
    for path in [
        p for p, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter)
    ]:
        del cache[path]
