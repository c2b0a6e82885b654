"""The Python-worker daemon shim and how ``sequila_session`` selects it.

``sequila_worker_daemon.worker_path`` decides which ``sys.path`` a worker
runs on; it is tested here as a plain function over fake path entries.
The Spark tests check that a session from ``sequila_session`` runs its
UDFs with no zipimporter, and that the conf is left alone when the user
set it or when the workers could not import the shim.
"""

from __future__ import annotations

import contextlib
import importlib.machinery
import os
import zipfile

import sequila_native_spark.session as session
from sequila_native_spark import sequila_session
from sequila_native_spark.session import (
    PYTHON_DAEMON_MODULE,
    WORKER_DAEMON,
    worker_can_import,
)
from sequila_worker_daemon import worker_path

VERSION = "4.1.2"


def _site(root, version=VERSION, py4j=True) -> str:
    """A site-packages directory holding ``pyspark`` (and ``py4j``)."""
    site = root / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f'__version__: str = "{version}"\n')
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return str(site)


def _zip(root, name, members) -> str:
    path = root / name
    with zipfile.ZipFile(path, "w") as z:
        for member, text in members.items():
            z.writestr(member, text)
    return str(path)


def _spark_archives(root, version=VERSION) -> list[str]:
    """Spark's worker path head: pyspark.zip, the py4j zip and a jar."""
    return [
        _zip(root, "pyspark.zip", {
            "pyspark/__init__.py": "",
            "pyspark/version.py": f"__version__: str = '{version}'\n",
        }),
        _zip(root, "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(root, "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
    ]


def test_archives_dropped_when_site_packages_has_same_pyspark(tmp_path):
    archives = _spark_archives(tmp_path)
    user = _zip(tmp_path, "user_deps.zip", {"mylib/__init__.py": ""})
    stdlib = str(tmp_path / "python311.zip")  # absent, as it usually is
    site = _site(tmp_path)
    path = [str(tmp_path), *archives, user, stdlib, site]
    assert worker_path(path) == [str(tmp_path), user, stdlib, site]


def test_zip_kept_when_no_pyspark_outside_it(tmp_path):
    path = [*_spark_archives(tmp_path), str(tmp_path / "lib")]
    assert worker_path(path) == path


def test_zip_kept_when_versions_differ(tmp_path):
    path = [*_spark_archives(tmp_path, "4.1.2"), _site(tmp_path, "4.0.1")]
    assert worker_path(path) == path


def test_zip_kept_when_py4j_only_in_its_zip(tmp_path):
    path = [*_spark_archives(tmp_path), _site(tmp_path, py4j=False)]
    assert worker_path(path) == path


def test_worker_can_import(tmp_path):
    here, other = str(tmp_path / "a"), str(tmp_path / "b")
    assert worker_can_import(here, os.pathsep.join([other, here]), other)
    assert worker_can_import(here, "", here)
    assert not worker_can_import(here, other, other)
    assert not worker_can_import(here, "", "")


@contextlib.contextmanager
def _daemon_conf(spark, value):
    """Run with the live SparkConf's daemon module set to ``value`` (None:
    unset); restore the session's own value afterwards."""
    conf = spark.sparkContext._jsc.sc().conf()
    before = conf.get(PYTHON_DAEMON_MODULE, None)
    if value is None:
        conf.remove(PYTHON_DAEMON_MODULE)
    else:
        conf.set(PYTHON_DAEMON_MODULE, value)
    try:
        yield conf
    finally:
        if before is None:
            conf.remove(PYTHON_DAEMON_MODULE)
        else:
            conf.set(PYTHON_DAEMON_MODULE, before)


def test_session_workers_import_pyspark_without_zips(spark):
    def worker_imports(it):  # nested: pickled by value, not by module
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        n = sum(isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values())
        for _ in it:
            yield pa.RecordBatch.from_pydict(
                {"zipimporters": [n], "pyspark_file": [pyspark.__file__]})

    with _daemon_conf(spark, None) as conf:
        assert sequila_session(spark) is spark
        assert conf.get(PYTHON_DAEMON_MODULE) == WORKER_DAEMON
        rows = spark.range(1, numPartitions=1).mapInArrow(
            worker_imports, "zipimporters long, pyspark_file string"
        ).collect()
    assert rows[0]["zipimporters"] == 0
    assert ".zip" not in rows[0]["pyspark_file"], rows[0]["pyspark_file"]


def test_user_daemon_module_left_untouched(spark):
    with _daemon_conf(spark, "pyspark.daemon") as conf:
        sequila_session(spark)
        assert conf.get(PYTHON_DAEMON_MODULE) == "pyspark.daemon"


def test_session_unchanged_when_workers_cannot_import_shim(
        spark, tmp_path, monkeypatch):
    # the shim as found from a directory no worker has on its path
    spec = importlib.machinery.ModuleSpec(
        WORKER_DAEMON, None, origin=str(tmp_path / f"{WORKER_DAEMON}.py"))
    find_spec = session.importlib.util.find_spec
    monkeypatch.setattr(
        session.importlib.util, "find_spec",
        lambda name, *a: spec if name == WORKER_DAEMON else find_spec(name, *a))
    with _daemon_conf(spark, None) as conf:
        sequila_session(spark)
        assert not conf.contains(PYTHON_DAEMON_MODULE)
