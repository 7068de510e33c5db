"""Zip-free Python worker daemon (``spark.python.daemon.module``).

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar on ``sys.path``. Every task calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``), which
makes each ``zipimporter`` re-read its archive's directory: 140-250 ms
of fixed cost per Python task on a 4-core host. This module drops those
archives, so the forked workers import pyspark and py4j from
site-packages, then runs the stock daemon. ``session.get_spark`` raises
when the JVM's release differs from the driver's pyspark.

Run as ``python -m geotrellis_server_spark._pydaemon``; the package
``__init__`` imports nothing, so no pyspark module is loaded from an
archive before the path is cleaned.
"""

import os
import sys


def _spark_archive(path: str, home: str) -> bool:
    """``path`` is, or lies inside, a jar in Spark's ``jars`` or a zip in
    its ``python/lib`` (``home`` is the real ``$SPARK_HOME``). A stdlib
    ``pythonXY.zip`` and jars of other packages stay. Importer-cache keys
    include package directories inside an archive."""
    while not path.endswith((".jar", ".zip")):
        parent = os.path.dirname(path)
        if parent == path:
            return False
        path = parent
    where = ("jars",) if path.endswith(".jar") else ("python", "lib")
    return os.path.realpath(os.path.dirname(path)) == os.path.join(home, *where)


def main() -> None:
    home = os.path.realpath(os.environ.get("SPARK_HOME", ""))
    sys.path[:] = [p for p in sys.path if not _spark_archive(p, home)]
    for p in [p for p in sys.path_importer_cache if _spark_archive(p, home)]:
        del sys.path_importer_cache[p]
    for m in [m for m in sys.modules if m.split(".")[0] in ("pyspark", "py4j")]:
        del sys.modules[m]
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
