"""Python-worker daemon that runs ``pyspark.daemon`` with pyspark imported
from a directory instead of from Spark's archives.

Spark starts its worker daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*-src.zip`` and the spark-core jar first on ``PYTHONPATH``.  On
Python 3.11 ``pyspark/worker_util.py::setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task, and every cached
``zipimporter`` then re-reads its archive's whole central directory:
1,328 entries in pyspark.zip and 5,359 in the jar, which holds no Python.
A worker holds 16 such importers.  When pyspark and py4j also resolve
from a directory (a pip-installed pyspark), this module drops Spark's
archives from ``sys.path`` and their importers from
``sys.path_importer_cache`` before it imports pyspark; otherwise it
leaves the path as it is.  A user archive is never dropped.

``session.get_spark`` sets this module as ``spark.python.daemon.module``
where workers can import it (see ``session.worker_daemon_conf``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Sequence
from fnmatch import fnmatch
from importlib.machinery import PathFinder


def spark_archives(path: Sequence[str], spark_home: str | None) -> list[str]:
    """The entries of ``path`` that are Spark's own archives: pyspark.zip
    and the py4j source zip under ``$SPARK_HOME/python/lib``, and the
    spark-core jar under ``$SPARK_HOME/jars``."""
    if not spark_home:
        return []
    home = os.path.realpath(spark_home)
    lib, jars = os.path.join(home, "python", "lib"), os.path.join(home, "jars")
    out = []
    for entry in path:
        folder, name = os.path.split(os.path.realpath(entry))
        if (folder == lib and (name == "pyspark.zip" or fnmatch(name, "py4j-*-src.zip"))) or (
            folder == jars and fnmatch(name, "spark-core_*.jar")
        ):
            out.append(entry)
    return out


def _from_directory(module: str, path: Sequence[str]) -> bool:
    spec = PathFinder.find_spec(module, list(path))
    return spec is not None and spec.origin is not None and os.path.isfile(spec.origin)


def worker_path(path: Sequence[str], spark_home: str | None) -> list[str]:
    """``path`` without Spark's archives when pyspark and py4j resolve from
    a directory on what is left; else ``path`` unchanged."""
    drop = set(spark_archives(path, spark_home))
    kept = [p for p in path if p not in drop]
    if drop and all(_from_directory(m, kept) for m in ("pyspark", "py4j")):
        return kept
    return list(path)


def use_directory_pyspark() -> None:
    """Apply ``worker_path`` to ``sys.path`` and evict the dropped archives'
    importers, sub-path importers included, from ``sys.path_importer_cache``."""
    kept = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    use_directory_pyspark()
    from pyspark.daemon import manager

    manager()
