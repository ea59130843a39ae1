"""Python worker daemon that imports the installed pyspark.

:mod:`aind_smartspim_data_transformation_spark.session` sets this
module as ``spark.python.daemon.module``.  The JVM starts each worker
daemon with ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar first on ``sys.path``.  Two costs follow: the
daemon compiles pyspark from the zip's sources on every start, and
every task's ``importlib.invalidate_caches()`` (in
``pyspark.worker.setup_spark_files``) re-reads the directories of all
those zip and jar entries.  When the installed pyspark is the same
version as the zip, this module drops those entries, so the daemon and
the workers it forks import the installed, byte-compiled package.  On
any mismatch, or without ``SPARK_HOME``, ``sys.path`` stays as the JVM
set it.  It then runs ``pyspark.daemon.manager()``.

``python -m`` imports the package ``__init__`` before this module runs,
so the package ``__init__`` must not import pyspark: a pyspark imported
there would come from the zip.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile


def _zip_version(zip_path: str) -> str | None:
    """``__version__`` of the pyspark inside a Spark ``pyspark.zip``."""
    try:
        with zipfile.ZipFile(zip_path) as z:
            src = z.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = re.search(r"__version__[^=]*=\s*['\"]([^'\"]+)['\"]", src)
    return m.group(1) if m else None


def installed_pyspark_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without the entries under ``$SPARK_HOME/python/lib`` and
    the Spark jars, or ``path`` unchanged unless the installed pyspark
    has the version of ``$SPARK_HOME/python/lib/pyspark.zip``."""
    if not spark_home:
        return path
    lib = os.path.realpath(os.path.join(spark_home, "python", "lib"))
    try:
        installed = importlib.metadata.version("pyspark")
    except importlib.metadata.PackageNotFoundError:
        return path
    if _zip_version(os.path.join(lib, "pyspark.zip")) != installed:
        return path
    return [
        p
        for p in path
        if not (p.endswith(".jar") or os.path.realpath(p).startswith(lib + os.sep))
    ]


if __name__ == "__main__":
    sys.path[:] = installed_pyspark_path(sys.path, os.environ.get("SPARK_HOME"))
    from pyspark import daemon

    daemon.manager()
