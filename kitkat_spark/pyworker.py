"""Python worker daemon with a clean import path (``spark.python.daemon.module``).

Runs before pyspark is imported, so the forked workers inherit its path:
archives that hold no Python module (the spark-core JAR) are dropped, and
``$SPARK_HOME/python/lib/pyspark.zip`` becomes ``$SPARK_HOME/python`` when
that tree has the sources. The ``kitkat_spark.session`` docstring says why.
"""

import os
import sys
import zipfile


def _keep(path: str) -> str | None:
    """The entry to keep in place of ``path``, or None to drop it."""
    if not zipfile.is_zipfile(path):
        return path
    tree = os.path.dirname(os.path.dirname(path))
    if os.path.basename(path) == "pyspark.zip" and os.path.isfile(
        os.path.join(tree, "pyspark", "__init__.py")
    ):
        return tree
    with zipfile.ZipFile(path) as zf:
        return path if any(n.endswith((".py", ".pyc")) for n in zf.namelist()) else None


def clean_path() -> None:
    kept = [_keep(p) for p in sys.path]
    for old, new in zip(sys.path, kept):
        if new != old:
            sys.path_importer_cache.pop(old, None)
    sys.path[:] = [p for p in kept if p is not None]


if __name__ == "__main__":
    clean_path()
    from pyspark import daemon

    daemon.manager()
