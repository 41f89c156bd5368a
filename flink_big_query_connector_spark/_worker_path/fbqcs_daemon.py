"""Spark's Python daemon, with pyspark imported from its installed directory.

Spark puts its bundled archives (``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar) first on every Python
worker's ``PYTHONPATH``, so workers import pyspark from the zip.  Each
task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that
re-reads the central directory of every cached zip importer: one per
package imported from the archives, ~27k entries in all, 150-200 ms per
task.

``session.get_spark`` names this module as ``spark.python.daemon.module``
and puts this directory on the workers' ``PYTHONPATH``.  When the
interpreter can import ``py4j`` and a ``pyspark`` of the bundled zip's
version from installed directories, the module drops Spark's archives
from ``sys.path`` and ``sys.path_importer_cache``; otherwise it leaves the
path exactly as Spark set it.  Either way it then runs ``pyspark.daemon``
unchanged.  Run with ``python -m fbqcs_daemon [worker module]``.

Only standard-library modules may be imported here: anything else would
be imported from the archives before they are dropped.  The directory has
no ``__init__.py`` so that ``-m`` does not import the package either.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M)


def _is_spark_archive(entry: str) -> bool:
    """``…/python/lib/*.zip`` and ``…/jars/*.jar`` files."""
    parent = os.path.dirname(entry)
    if entry.endswith(".zip"):
        bundled = (os.path.basename(parent) == "lib"
                   and os.path.basename(os.path.dirname(parent)) == "python")
    elif entry.endswith(".jar"):
        bundled = os.path.basename(parent) == "jars"
    else:
        return False
    return bundled and os.path.isfile(entry)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _installed_package(name: str, path: list[str]) -> str | None:
    """The directory of package ``name`` on ``path``, or None when it is
    missing or would be imported from an archive."""
    spec = PathFinder.find_spec(name, path)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    return os.path.dirname(spec.origin)


def installed_path(path: list[str]) -> list[str]:
    """``path`` without Spark's bundled archives, when the rest of it
    imports ``py4j`` and the bundled zip's ``pyspark`` version from
    directories; otherwise ``path`` itself, unchanged."""
    archives = [p for p in path if _is_spark_archive(p)]
    bundled = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    if not bundled:
        return path
    rest = [p for p in path if p not in archives]
    pyspark_dir = _installed_package("pyspark", rest)
    if pyspark_dir is None or _installed_package("py4j", rest) is None:
        return path
    try:
        with open(os.path.join(pyspark_dir, "version.py"), encoding="utf-8") as f:
            installed = _version(f.read())
        with zipfile.ZipFile(bundled[0]) as zf:
            shipped = _version(zf.read("pyspark/version.py").decode("utf-8"))
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return path
    if installed is None or installed != shipped:
        return path
    return rest


def main() -> None:
    path = installed_path(sys.path)
    if path is not sys.path:
        dropped = [p for p in sys.path if p not in path]
        sys.path[:] = path
        for key in list(sys.path_importer_cache):
            if any(key == p or key.startswith(p + os.sep) for p in dropped):
                del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
