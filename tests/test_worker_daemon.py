"""Python workers import pyspark from site-packages (``worker_daemon``),
and ``get_spark`` names that daemon only where a worker can import it."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_udf_task_sees_no_zip_importer(spark):
    """Inside a task, no ``zipimporter`` is cached and pyspark is the
    installed one: each task's ``importlib.invalidate_caches()`` re-reads
    no zip directory. A Spark upgrade that changes the worker's path shows
    up here."""

    @F.udf("string")
    def worker_path(_):
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        return f"{pyspark.__file__}|{len(zips)}"

    (got,) = {r[0] for r in spark.range(4).select(worker_path("id")).collect()}
    pyspark_file, n_zips = got.split("|")
    assert "site-packages" in pyspark_file and n_zips == "0", got


def _run(code: str, path: list[str], cwd) -> str:
    """Run ``code`` in a fresh interpreter whose path is ``path`` (``cwd``
    holds no package)."""
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(path)}
    r = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=cwd, capture_output=True, text=True, timeout=120
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return r.stdout.strip()


def test_get_spark_names_no_daemon_for_zipped_package(tmp_path):
    """Under ``spark-submit --py-files`` the package comes from a zip,
    which a worker cannot import before its task adds the zip: neither
    conf is set. From a directory, on a local master, both are."""
    pkg_zip = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(pkg_zip, "w") as z:
        for d, _, files in os.walk(os.path.join(REPO, "log_aggregator_spark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, REPO))
    code = (
        "from log_aggregator_spark.session import _worker_daemon_conf as c;"
        "print(sorted(c('local[4]', {})), sorted(c('spark://h:7077', {})))"
    )
    assert _run(code, [pkg_zip], tmp_path) == "[] []"
    assert _run(code, [REPO], tmp_path) == (
        "['spark.executorEnv.PYTHONPATH', 'spark.python.daemon.module'] []"
    )


@pytest.mark.parametrize("zip_version,dropped", [("installed", True), ("0.0.0", False)])
def test_drop_archives_only_for_the_zip_version(tmp_path, zip_version, dropped):
    """The archives leave the path only when the installed pyspark is the
    version the zip holds; otherwise the path is restored and no pyspark
    module stays imported, so the zip's pyspark imports next."""
    import pyspark

    version = pyspark.__version__ if zip_version == "installed" else zip_version
    fake = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(fake, "w") as z:
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    code = (
        "import sys;from log_aggregator_spark.worker_daemon import drop_archives;"
        "ok = drop_archives();"
        f"print(ok, {fake!r} in sys.path, {fake!r} in sys.path_importer_cache,"
        " 'pyspark' in sys.modules)"
    )
    assert _run(code, [fake, REPO], tmp_path) == (
        "True False False True" if dropped else "False True True False"
    )
