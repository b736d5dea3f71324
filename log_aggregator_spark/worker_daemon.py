"""Spark's Python worker daemon, importing pyspark from site-packages.

Spark puts ``pyspark.zip``, py4j's zip and the spark-core jar on a Python
worker's ``sys.path``. Every UDF task calls ``importlib.invalidate_caches()``,
and on CPython 3.11 each cached ``zipimporter`` then re-reads its whole zip
directory: about 0.14 CPU-s per task before it reads a row. When the
installed pyspark imports without those archives and is the version that
``pyspark.zip`` holds, this module drops them from ``sys.path`` and the
importer cache; otherwise it leaves Spark's path as it was. Either way it
then runs ``pyspark.daemon.manager()``. ``session.get_spark`` names it in
``spark.python.daemon.module``.
"""

import re
import sys
import zipfile

_ARCHIVES = (".zip", ".jar")


def _zip_version(path: str) -> str | None:
    with zipfile.ZipFile(path) as z:
        m = re.search(r"__version__.*?=\s*['\"]([^'\"]+)", z.read("pyspark/version.py").decode())
    return m and m.group(1)


def drop_archives() -> bool:
    """Take the archives off the path when the installed pyspark replaces
    them; True when it did."""
    saved = list(sys.path)
    archives = [p for p in saved if p.endswith(_ARCHIVES)]
    zips = [p for p in archives if p.endswith("pyspark.zip")]
    sys.path[:] = [p for p in saved if p not in archives]
    try:
        import pyspark

        ok = bool(zips) and pyspark.__version__ == _zip_version(zips[0])
    except ImportError:
        ok = False
    if not ok:
        for name in [m for m in sys.modules if m.split(".")[0] in ("pyspark", "py4j")]:
            del sys.modules[name]
        sys.path[:] = saved
        return False
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + "/") for a in archives):
            del sys.path_importer_cache[key]
    return True


if __name__ == "__main__":
    drop_archives()
    from pyspark.daemon import manager

    manager()
