"""PySpark worker daemon that runs without Spark's zip and jar importers.

Spark puts ``pyspark.zip``, the py4j source zip and the spark-core jar
at the front of every Python worker's ``sys.path``, and every task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``).  Under Python 3.11 that makes each zipimporter in
``sys.path_importer_cache`` re-read its archive's central directory:
about 115 ms per task on a 4-vCPU VM.  The 15 MB spark-core jar holds
no Python at all.

`session.get_spark` sets ``spark.python.daemon.module`` to this module.
It drops those entries, and every importer cached under them, before
anything imports ``pyspark``, then runs the stock
``pyspark.daemon.manager()`` (its fork, SIGTERM and child handling
unchanged).  The jar always goes.  The zips are dropped only when the
same ``pyspark`` and ``py4j`` versions resolve without them; otherwise
they stay, and pyspark is imported from them as in the stock daemon.

Nothing here may import ``pyspark`` at module level: the strip has to
run first in the daemon process, or the zipimporters of the package's
subdirectories stay cached.
"""

from __future__ import annotations

import fnmatch
import os
import sys

#: Spark's archives by basename; the jar goes whatever the zips hold
_ZIPS = {"pyspark": "pyspark.zip", "py4j": "py4j-*.zip"}
_JAR = "spark-core_*.jar"


def _version_file(entry: str, pkg: str) -> bytes | None:
    """``<pkg>/version.py`` as stored in the archive `entry`."""
    import zipfile

    try:
        with zipfile.ZipFile(entry) as zf:
            return zf.read(f"{pkg}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _resolved_version_file(path: list[str], pkg: str) -> bytes | None:
    """``<pkg>/version.py`` of the package `pkg` resolves to on `path`,
    without importing it."""
    from importlib.machinery import PathFinder

    spec = PathFinder.find_spec(pkg, path)
    if spec is None or spec.origin is None:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"),
                  "rb") as f:
            return f.read()
    except OSError:
        return None


def _same_version(entry: str, pkg: str, path: list[str]) -> bool:
    """The archive `entry` holds the same ``<pkg>/version.py`` as the
    `pkg` that resolves on `path`."""
    want = _version_file(entry, pkg)
    return want is not None and want == _resolved_version_file(path, pkg)


def strip_spark_archives(path: list[str], cache: dict) -> list[str]:
    """Remove Spark's zip and jar entries from `path` (in place) and
    every `cache` key at or under them; return the removed entries.

    The spark-core jar holds no Python and always goes.  The pyspark and
    py4j zips go together, and only when each zip's ``version.py``
    equals the one that resolves without them; otherwise both stay.
    Every other entry (user ``--py-files`` zips included) stays."""
    name = os.path.basename
    zips = {e: pkg for e in path for pkg, pat in _ZIPS.items()
            if fnmatch.fnmatch(name(e), pat)}
    drop = {e for e in path if fnmatch.fnmatch(name(e), _JAR)}
    kept = [e for e in path if e not in zips and e not in drop]
    if all(_same_version(e, pkg, kept) for e, pkg in zips.items()):
        drop |= set(zips)
    removed = [e for e in path if e in drop]
    path[:] = [e for e in path if e not in drop]
    for key in list(cache):
        if any(key == e or key.startswith(e + os.sep) for e in drop):
            del cache[key]
    return removed


def main() -> None:
    strip_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
