"""Python workers import the installed pyspark, not Spark's pyspark.zip
(vendor/pydaemon/installed_pyspark_daemon.py, wired by session.get_spark),
and keep Spark's path order when the two versions differ."""

from __future__ import annotations

import importlib.util
import os
import zipfile

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DAEMON = os.path.join(REPO, "vendor", "pydaemon", "installed_pyspark_daemon.py")


def _daemon_module():
    spec = importlib.util.spec_from_file_location("_daemon_under_test", _DAEMON)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_python_task_imports_driver_pyspark(spark):
    def probe(_):
        import sys
        import zipimport

        import pyspark as worker_pyspark

        yield worker_pyspark.__file__, [
            key
            for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        ]

    [(worker_file, zip_keys)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert worker_file == pyspark.__file__
    assert not [k for k in zip_keys if "pyspark.zip" + os.sep + "pyspark" in k]


def _fake_spark_home(tmp_path, zip_version: str, installed_version: str):
    archive = tmp_path / "lib" / "pyspark.zip"
    archive.parent.mkdir()
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f'__version__: str = "{zip_version}"\n')
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(
        f'__version__ = "{installed_version}"\n'
    )
    jar = str(tmp_path / "spark-core.jar")
    return [str(tmp_path), str(archive), jar, str(site)]


def test_worker_path_moves_archives_when_versions_match(tmp_path):
    mod = _daemon_module()
    path = _fake_spark_home(tmp_path, "4.1.2", "4.1.2")
    assert mod.worker_path(path) == [path[0], path[3], path[1], path[2]]


def test_worker_path_keeps_spark_order_on_version_mismatch(tmp_path):
    mod = _daemon_module()
    path = _fake_spark_home(tmp_path, "4.1.2", "4.0.1")
    assert mod.worker_path(path) == path
    # no installed pyspark at all: Spark's order too
    assert mod.worker_path(path[:3]) == path[:3]
