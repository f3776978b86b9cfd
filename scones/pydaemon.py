"""pyspark's Python worker daemon, started from a path without Spark's archives.

Spark starts each Python worker daemon with ``pyspark.zip``, py4j's
source zip and the ``spark-core`` jar at the front of its import path.
pyspark's worker calls ``importlib.invalidate_caches()`` before every
task, and on CPython <= 3.12 that re-reads the central directory of
every zip importer in ``sys.path_importer_cache`` (the cost is measured
in scones/session.py).  When the rest of the path resolves the same
pyspark and a py4j, this daemon drops those archives before it imports
pyspark, and the workers it forks inherit the shorter path.  Any other
archive, such as a ``--py-files`` zip, stays.  When the rest of the path
has no usable pyspark (a cluster executor with none installed) the path
stays as Spark built it.

Spark runs this module through ``spark.python.daemon.module``, which
:func:`scones.session.get_spark` sets on a local master only, so the
workers' Python must import ``scones`` when the daemon starts: from the
driver's working directory or its ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or name.endswith(".jar")
    )


def _same_pyspark(package_dir: str, archive: str) -> bool:
    """True iff ``pyspark/version.py`` reads the same in an installed
    package dir and in a ``pyspark.zip``."""
    try:
        with open(os.path.join(package_dir, "version.py"), "rb") as fh:
            installed = fh.read()
        with zipfile.ZipFile(archive) as z:
            return z.read("pyspark/version.py") == installed
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's ``pyspark.zip``, ``py4j-*-src.zip`` and
    ``.jar`` entries, or ``path`` itself when the rest of it does not
    resolve both ``pyspark`` and ``py4j``, or resolves a pyspark of
    another version than the ``pyspark.zip`` it would replace."""
    rest = [p for p in path if not _spark_archive(p)]
    if len(rest) == len(path):
        return path
    pyspark, py4j = (PathFinder.find_spec(name, rest) for name in ("pyspark", "py4j"))
    if pyspark is None or pyspark.origin is None or py4j is None:
        return path
    package_dir = os.path.dirname(pyspark.origin)
    for entry in path:
        if os.path.basename(entry) == "pyspark.zip" and not _same_pyspark(package_dir, entry):
            return path
    return rest


def main() -> None:
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    # the importers cached for an archive and for the packages inside it
    # (``pyspark.zip/pyspark/sql``, ``spark-core_2.13-4.1.2.jar/org``)
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
