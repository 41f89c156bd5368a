"""Python workers import pyspark from its installed directory.

``session.get_spark`` starts workers through ``_worker_path/fbqcs_daemon``,
which drops Spark's bundled archives from ``sys.path`` when a matching
pyspark and py4j are installed, and otherwise leaves the path as Spark
set it.  The path filter is pure over the file system, so its four cases
run on fake Spark homes; the end-to-end case runs a task on the
session's workers.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pytest

from flink_big_query_connector_spark._worker_path import fbqcs_daemon as d


def _package(root, name, version=None):
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    if version is not None:
        (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")


def _zip(path, files):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


@pytest.fixture()
def layout(tmp_path):
    """A worker path as Spark builds it: cwd, the bundled pyspark and
    py4j zips and the spark-core jar, then the interpreter's own path
    (``site``, empty until a case installs packages into it)."""
    home = tmp_path / "spark"
    pyspark_zip = _zip(home / "python" / "lib" / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__: str = '4.1.2'\n",
    })
    py4j_zip = _zip(home / "python" / "lib" / "py4j-0.10.9.9-src.zip",
                    {"py4j/__init__.py": ""})
    jar = _zip(home / "jars" / "spark-core_2.13-4.1.2.jar",
               {"org/apache/spark/SparkContext.class": ""})
    site = tmp_path / "site"
    site.mkdir()
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    path = [str(cwd), pyspark_zip, py4j_zip, jar, str(site)]
    return path, site


def test_same_version_install_drops_archives(layout):
    path, site = layout
    _package(site, "pyspark", "4.1.2")
    _package(site, "py4j")
    assert d.installed_path(path) == [path[0], str(site)]


def test_version_mismatch_keeps_path(layout):
    path, site = layout
    _package(site, "pyspark", "4.0.0")
    _package(site, "py4j")
    assert d.installed_path(path) is path


def test_missing_py4j_keeps_path(layout):
    path, site = layout
    _package(site, "pyspark", "4.1.2")
    assert d.installed_path(path) is path


def test_zip_only_pyspark_keeps_path(layout, tmp_path):
    """pyspark only in an archive that is not Spark's own (a user zip):
    nothing to import from a directory."""
    path, site = layout
    _package(site, "py4j")
    user_zip = _zip(tmp_path / "deps" / "pyspark-deps.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__: str = '4.1.2'\n",
    })
    path.insert(4, user_zip)
    assert d.installed_path(path) is path


def test_main_drops_archives_from_importer_cache(layout, monkeypatch):
    path, site = layout
    _package(site, "pyspark", "4.1.2")
    _package(site, "py4j")
    # what importing this module from behind the archives leaves cached
    cache = {p: zipimport.zipimporter(p) for p in path[1:4]}
    pkg = os.path.join(path[1], "pyspark")
    cache[pkg] = zipimport.zipimporter(pkg)
    ran = []
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.setattr(d.runpy, "run_module",
                        lambda *a, **k: ran.append((a, k)))
    d.main()
    assert sys.path == [path[0], str(site)]
    assert not set(cache) & (set(path[1:4]) | {pkg})
    assert ran == [(("pyspark.daemon",),
                    {"run_name": "__main__", "alter_sys": True})]


def test_main_without_install_leaves_path(layout, monkeypatch):
    path, _site = layout
    cache = {p: zipimport.zipimporter(p) for p in path[1:4]}
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    monkeypatch.setattr(d.runpy, "run_module", lambda *a, **k: None)
    d.main()
    assert sys.path == path
    assert set(cache) <= set(sys.path_importer_cache)


def test_extra_conf_restores_spark_daemon(monkeypatch):
    """get_spark names the package daemon by default; ``extra_conf`` wins."""
    from pyspark.sql import SparkSession

    from flink_big_query_connector_spark.session import DAEMON_MODULE, get_spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    key = "spark.python.daemon.module"
    assert get_spark("t", cpus=1)[key] == DAEMON_MODULE
    restored = get_spark("t", cpus=1, extra_conf={key: "pyspark.daemon"})
    assert restored[key] == "pyspark.daemon"


def test_daemon_unset_when_the_jvm_cannot_import_it(monkeypatch):
    """A JVM launched before get_spark extended PYTHONPATH (another
    builder's, or spark-submit's) would start workers that cannot find
    the module: get_spark then leaves Spark's default."""
    from types import SimpleNamespace

    from pyspark import SparkContext

    from flink_big_query_connector_spark import session

    system = SimpleNamespace(getenv=lambda key: "/elsewhere")
    old_jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=system)))
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_jvm", old_jvm)
        assert session._daemon_conf() == {}
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_jvm", None)
        m.setenv("PYSPARK_GATEWAY_PORT", "1")
        assert session._daemon_conf() == {}


def test_workers_import_installed_pyspark(spark):
    import pyspark

    if not os.path.isfile(pyspark.__file__):
        pytest.skip("the driver's own pyspark is not an installed directory")

    def worker_imports(_):
        import sys

        import pyspark

        zips = [getattr(v, "archive", k)
                for k, v in sys.path_importer_cache.items()
                if type(v).__name__ == "zipimporter"]
        return pyspark.__file__, zips

    file, zips = spark.sparkContext.parallelize([0], 1).map(worker_imports).first()
    assert os.path.isfile(file)
    assert os.path.dirname(file) == os.path.dirname(pyspark.__file__)
    assert not [z for z in zips if d._is_spark_archive(z)]
