"""Python-worker daemon without Spark's own archives on ``sys.path``
(``spark.python.daemon.module``, set in ``session.get_spark``).

Spark puts ``pyspark.zip``, the py4j source zip and the spark-core jar at
the front of every worker's ``PYTHONPATH``. pyspark's ``setup_spark_files``
calls ``importlib.invalidate_caches()`` once per task, and on Python 3.11
each ``zipimporter`` then re-reads its archive's whole central directory:
about 0.24 CPU-s per task, whatever its rows. When the interpreter finds
pyspark and py4j without the archives, the daemon drops them from
``sys.path`` and their importers from ``sys.path_importer_cache`` before it
imports ``pyspark.daemon``; forked workers inherit both. User archives
(``PYTHONPATH``, ``addPyFile``) stay.
"""

import os
import sys
from importlib.machinery import PathFinder


def is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, or unchanged when pyspark or py4j
    cannot be found without them."""
    kept = [p for p in path if not is_spark_archive(p)]
    if all(PathFinder.find_spec(m, kept) for m in ("pyspark", "py4j")):
        return kept
    return list(path)


if __name__ == "__main__":
    kept = without_spark_archives(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    # ``python -m`` made importers for the archives (and ``<archive>/<subdir>``)
    # while it looked up this module
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()
