"""Spark's Python worker daemon, started with Spark's zip archives off the
import path.

Spark puts three archives first on every Python worker's path:
`$SPARK_HOME/python/lib/pyspark.zip`, the py4j `-src.zip` and the
`spark-core` jar. Each task then calls `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`), and on Python 3.11 that makes
every `zipimporter` in `sys.path_importer_cache` re-read its archive's
central directory: a worker holds 16 of them, which cost 150-215 ms per
task before it touches a row.

When the `pyspark` found without the archives (site-packages) is the
version inside `pyspark.zip`, and py4j is found there too, this module
drops the archives from `sys.path` and their importers from the cache
before it imports `pyspark.daemon`. The daemon and every worker it forks
then import pyspark from site-packages and hold no zipimporter of Spark's.
Otherwise the path is left as Spark set it.

Run as `python -m radar_log_parser_spark.daemon`: `session.get_spark`
selects it through `spark.python.daemon.module` when a worker can import
this package at start-up. Importing the package must load no pyspark, so
`radar_log_parser_spark/__init__.py` stays import-free.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVE = re.compile(r"pyspark\.zip|py4j-.*-src\.zip|spark-core_.*\.jar")
_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def drop_spark_archives() -> None:
    """Remove Spark's archives from `sys.path` and their importers from
    `sys.path_importer_cache`, if the rest of the path holds the same
    pyspark version and a py4j."""
    archives = [p for p in sys.path if _ARCHIVE.fullmatch(os.path.basename(p))]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in sys.path if p not in archives]
    installed = PathFinder.find_spec("pyspark", rest)
    if not zips or installed is None or installed.origin is None:
        return
    if PathFinder.find_spec("py4j", rest) is None:
        return
    with zipfile.ZipFile(zips[0]) as z:
        zipped = _version(z.read("pyspark/version.py").decode())
    with open(os.path.join(os.path.dirname(installed.origin), "version.py")) as f:
        if zipped is None or _version(f.read()) != zipped:
            return
    sys.path[:] = rest
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark import daemon

    daemon.manager()
