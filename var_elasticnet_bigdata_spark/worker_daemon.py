"""Python worker daemon that imports pyspark from a directory.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the spark-core
jar first on every worker's ``sys.path``, and each task starts with
``importlib.invalidate_caches()``. On Python 3.11 that makes every
zipimporter re-read its archive's central directory: about 0.1 s per
task for the 1328-entry zip and the 5359-entry jar. Started as
``spark.python.daemon.module`` (``session.get_spark``), this module
swaps the zip for the ``$SPARK_HOME/python`` tree it is built from,
drops the jars (they hold no Python) and forgets their importers
before pyspark is imported, then runs pyspark's own daemon.
"""

from __future__ import annotations

import os


def strip_archives(path: list[str], importer_cache: dict) -> list[str]:
    """``path`` with each ``…/lib/pyspark.zip`` replaced by the source
    tree two levels up (when it holds ``pyspark/__init__.py``) and every
    ``.jar`` dropped; cached importers at or under a removed entry are
    deleted from ``importer_cache`` in place."""
    kept, gone = [], []
    for p in path:
        tree = os.path.dirname(os.path.dirname(p))
        if p.endswith(".jar"):
            gone.append(p)
        elif os.path.basename(p) == "pyspark.zip" and os.path.isfile(
            os.path.join(tree, "pyspark", "__init__.py")
        ):
            gone.append(p)
            kept.append(tree)
        else:
            kept.append(p)
    for key in list(importer_cache):
        if any(key == g or key.startswith(g + os.sep) for g in gone):
            del importer_cache[key]
    return kept


if __name__ == "__main__":
    import sys

    # the Spark installation may be shared or read-only: leave no
    # bytecode in it (the zip it replaces never cached any either)
    sys.dont_write_bytecode = True
    sys.path[:] = strip_archives(sys.path, sys.path_importer_cache)
    import pyspark.daemon

    pyspark.daemon.manager()
