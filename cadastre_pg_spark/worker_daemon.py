"""Python worker daemon that imports pyspark from its installed directory.

Spark starts its workers with `$SPARK_HOME/python/lib/pyspark.zip`, the
py4j zip and the spark-core jar first on `sys.path`, and every task
calls `importlib.invalidate_caches()`, which re-reads the central
directory of each archive importer the worker holds (one per imported
pyspark subpackage). When the same pyspark and py4j are importable from
a directory further down the path, this daemon drops Spark's archives
and their cached importers before it imports pyspark, then runs Spark's
stock daemon (`pyspark.daemon.manager`). Otherwise it leaves the path
as it is. `session.get_spark` selects it through
`spark.python.daemon.module`.
"""

import os
import re
import sys
from importlib.machinery import PathFinder

ARCHIVES = (".zip", ".jar")


def locate(name: str, entries: list) -> tuple | None:
    """(version, imported from a directory) of the package `name` as
    `entries` would import it, or None when they hold none or its
    version.py names no version."""
    spec = PathFinder.find_spec(name, entries)
    if spec is None or spec.origin is None:
        return None
    try:
        text = spec.loader.get_data(
            os.path.join(os.path.dirname(spec.origin), "version.py")
        ).decode()
    except OSError:
        return None
    found = re.search(r"__version__[^=]*=\s*['\"]([^'\"]+)['\"]", text)
    return (found.group(1), os.path.isfile(spec.origin)) if found else None


def archive_free(path: list, spark_home: str | None, locate=locate) -> list:
    """`path` without the .zip/.jar entries inside `spark_home` when
    pyspark and py4j still import from a directory on it, each at the
    version `path` itself imports; otherwise `path` unchanged. Other
    archives (a zip on PYTHONPATH, the interpreter's own) stay."""
    if not spark_home:
        return path
    home = os.path.realpath(spark_home) + os.sep
    kept = [
        p
        for p in path
        if not (p.endswith(ARCHIVES) and os.path.realpath(p).startswith(home))
    ]
    for name in ("pyspark", "py4j"):
        stock = locate(name, path)
        if stock is None or locate(name, kept) != (stock[0], True):
            return path
    return kept


def drop_archives() -> None:
    """Apply `archive_free` to `sys.path`, and forget the importers the
    interpreter's start-up already cached for the dropped archives and
    the packages inside them."""
    kept = archive_free(sys.path, os.environ.get("SPARK_HOME"))
    dropped = tuple(p for p in sys.path if p not in kept)
    sys.path[:] = kept
    inside = tuple(p + os.sep for p in dropped)
    for key in list(sys.path_importer_cache):
        if key in dropped or key.startswith(inside):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    drop_archives()
    from pyspark import daemon

    daemon.manager()
