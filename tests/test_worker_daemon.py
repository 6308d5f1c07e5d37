"""Python workers start from ``worker_daemon``, which drops Spark's own
archives (``pyspark.zip``, the py4j source zip, the spark-core jar) from the
workers' ``sys.path``, so pyspark's per-task ``importlib.invalidate_caches()``
has no archive to re-read."""

import os
import zipfile

import pyspark

from pulsar_3_2_codedump_spark.worker_daemon import is_spark_archive, without_spark_archives

# the filter matches on names only; these paths need not exist
_ARCHIVES = [
    "/spark/python/lib/pyspark.zip",
    "/spark/python/lib/py4j-0.10.9.9-src.zip",
    "/spark/jars/spark-core_2.13-4.1.2.jar",
]


def _archive(key: str) -> str:
    """The archive of an importer key ``<archive>[/<subdir>]``."""
    while key and not key.endswith((".zip", ".jar")):
        key = os.path.dirname(key)
    return key


def test_workers_import_pyspark_without_spark_archives(spark):
    def worker_imports(_):
        import sys
        import zipimport

        import pyspark

        yield (
            pyspark.__file__,
            pyspark.__version__,
            sorted(k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)),
        )

    [(path, version, zips)] = spark.sparkContext.parallelize([0], 1).mapPartitions(worker_imports).collect()
    assert [z for z in zips if is_spark_archive(_archive(z))] == []
    assert os.path.isdir(os.path.dirname(path))
    assert version == pyspark.__version__


def test_add_py_file_zip_still_imports(spark, tmp_path):
    name = f"daemon_probe_{os.getpid()}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 41 + 1\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect() == [42]


def test_path_filter_drops_only_spark_archives(tmp_path):
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    user_zip = str(tmp_path / "user.zip")
    path = [_ARCHIVES[0], _ARCHIVES[1], user_zip, _ARCHIVES[2], site]
    assert without_spark_archives(path) == [user_zip, site]
    # pyspark is not found without the archives: the path stays as it is
    bare = [_ARCHIVES[0], _ARCHIVES[1], user_zip, str(tmp_path)]
    assert without_spark_archives(bare) == bare
