"""Python worker daemon for local masters: ``pyspark.daemon`` with Spark's
archives taken off ``sys.path``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar at the front of every Python worker's ``PYTHONPATH``, so the
workers import pyspark from the zip. Before every task,
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every zip
importer in ``sys.path_importer_cache`` re-read its archive's central
directory (the jar alone has ~5,400 entries): 150-310 ms per task on a
4-core host before the UDF body runs. When the pyspark and py4j installed
next to the interpreter import without the archives, this module drops them
from ``sys.path`` before pyspark is imported, so neither the daemon nor the
workers it forks hold a zip importer.

Spark starts it as ``python -m learn_hbase_spark.pyworker <worker module>``
once ``spark.python.daemon.module`` names it, which
:func:`learn_hbase_spark.session.get_session` does for ``local`` masters
only: there the workers run on the driver's host, whose pyspark is the
driver's own. Nothing here may import pyspark before the path is filtered.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder

_ARCHIVES = (".zip", ".jar")


def without_spark_archives(path: list[str], pythonpath: str) -> list[str]:
    """``path`` minus the ``.zip``/``.jar`` entries that came from
    ``pythonpath`` (the interpreter's own stdlib zip is never on it), or
    ``path`` unchanged when pyspark or py4j imports only from one of them."""
    spark_added = {
        p for p in pythonpath.split(os.pathsep) if p.lower().endswith(_ARCHIVES)
    }
    kept = [p for p in path if p not in spark_added]
    if all(PathFinder.find_spec(name, kept) for name in ("pyspark", "py4j")):
        return kept
    return list(path)


def main() -> None:
    sys.path[:] = without_spark_archives(sys.path, os.environ.get("PYTHONPATH", ""))
    sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
