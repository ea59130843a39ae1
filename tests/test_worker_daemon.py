"""The Python worker daemon imports the installed pyspark."""

from __future__ import annotations

import zipfile

from aind_smartspim_data_transformation_spark import worker_daemon


def test_worker_imports_drivers_pyspark(spark):
    """A task runs against the same installed pyspark as the driver,
    not the copy in $SPARK_HOME/python/lib/pyspark.zip, and finds this
    package through PYTHONPATH, not only through its cwd."""
    import os

    import pyspark

    import aind_smartspim_data_transformation_spark as pkg

    def where(_):
        import os

        import pyspark

        yield pyspark.__file__, os.environ["PYTHONPATH"].split(os.pathsep)

    [(got, path)] = spark.sparkContext.parallelize([0], 1).mapPartitions(where).collect()
    assert got == pyspark.__file__
    assert os.path.dirname(os.path.dirname(pkg.__file__)) in path


def _fake_spark_home(root, version):
    lib = root / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return lib


def test_version_mismatch_keeps_sys_path(tmp_path):
    lib = _fake_spark_home(tmp_path, "0.0.1")
    path = [str(lib / "pyspark.zip"), str(tmp_path / "jars/spark-core.jar"), "/x"]
    assert worker_daemon.installed_pyspark_path(path, str(tmp_path)) == path


def test_version_match_drops_spark_entries(tmp_path):
    import importlib.metadata

    lib = _fake_spark_home(tmp_path, importlib.metadata.version("pyspark"))
    path = [
        str(lib / "pyspark.zip"),
        str(lib / "py4j-src.zip"),
        str(tmp_path / "jars/spark-core.jar"),
        "/x",
    ]
    assert worker_daemon.installed_pyspark_path(path, str(tmp_path)) == ["/x"]
    assert worker_daemon.installed_pyspark_path(path, None) == path
