"""Session factory and the Python-worker daemon (``session.get_spark``,
``pydaemon``): a zip on ``sys.path`` is re-read only when it changed, the
workers of a local session run that daemon, and a cluster session is left
with PySpark's own."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from scraping_jobsdb_spark import pydaemon


def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    """An unchanged archive is not re-read on ``invalidate_caches``; one
    rewritten in place is, and a module added to it becomes importable."""
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_a.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(pydaemon, "_read_at", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon._invalidate_caches
    )
    for name in ("zipmod_a", "zipmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipmod_a").VALUE == 1

    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
    )
    importlib.invalidate_caches()  # first call records the archive's stamp
    first = reads.count(str(archive))
    assert first <= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == first

    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("zipmod_b.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == first + 1
    assert importlib.import_module("zipmod_b").VALUE == 2


def test_warm_worker_task_reads_no_zip_directory(spark):
    """After one warm-up task, a Python task's own
    ``importlib.invalidate_caches()`` reads no zip directory. PySpark's
    worker makes the same call before every task; before the daemon it
    re-read ``pyspark.zip`` once per importer on it (about 16 reads,
    0.23 s)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = [0]
        real = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [reads[0]], "zips": [zips]})

    df = spark.range(8).coalesce(1)
    df.mapInPandas(probe, "reads long, zips long").collect()  # warm-up
    (row,) = df.mapInPandas(probe, "reads long, zips long").collect()
    if row.zips == 0:
        pytest.skip("the workers import nothing from a zip")
    assert row.reads == 0, row


def test_daemon_conf_only_for_local_master(monkeypatch):
    """A local session gets the daemon, and the package directory heads
    the workers' PYTHONPATH, ahead of a caller's entries; a caller's
    daemon module wins. A non-local master gets neither conf, since its
    executors need not have the package."""
    import os

    from pyspark.sql import SparkSession

    from scraping_jobsdb_spark import session

    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))

    monkeypatch.delenv("SPARK_MASTER", raising=False)
    opts = session.get_spark(
        extra_conf={"spark.executorEnv.PYTHONPATH": "/srv/libs"}
    )
    assert opts["spark.python.daemon.module"] == "scraping_jobsdb_spark.pydaemon"
    assert opts["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [pkg_parent, "/srv/libs"]
    )
    opts = session.get_spark(master="local[2]")
    assert opts["spark.executorEnv.PYTHONPATH"] == pkg_parent
    opts = session.get_spark(
        master="local[2]", extra_conf={"spark.python.daemon.module": "mine"}
    )
    assert opts["spark.python.daemon.module"] == "mine"

    monkeypatch.setenv("SPARK_MASTER", "spark://head:7077")
    opts = session.get_spark(
        extra_conf={"spark.executorEnv.PYTHONPATH": "/srv/libs"}
    )
    assert "spark.python.daemon.module" not in opts
    assert opts["spark.executorEnv.PYTHONPATH"] == "/srv/libs"
    opts = session.get_spark(master="yarn")
    assert "spark.python.daemon.module" not in opts
    assert "spark.executorEnv.PYTHONPATH" not in opts


def test_ship_package_ships_nothing_under_pydaemon(spark, tmp_path, monkeypatch):
    """In a ``get_spark`` session the workers fork from ``pydaemon``, which
    has imported the package already: ``ship_package`` writes no zip and
    adds no Python include, and a task importing an engine module still
    runs."""
    import tempfile

    from scraping_jobsdb_spark import session

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.delattr(spark, "_sjs_package_shipped", raising=False)
    sc = spark.sparkContext
    includes = list(sc._python_includes)
    session.ship_package(spark)
    assert list(tmp_path.glob("scraping_jobsdb_spark-pyfiles-*.zip")) == []
    assert sc._python_includes == includes

    def task(batches):
        import pandas as pd

        from scraping_jobsdb_spark.operators import textops

        for _ in batches:
            pass
        yield pd.DataFrame({"ok": [callable(textops.normalize_text)]})

    (row,) = spark.range(1).coalesce(1).mapInPandas(task, "ok boolean").collect()
    assert row.ok


@pytest.mark.parametrize("daemon", [None, "pyspark.daemon"])
def test_ship_package_zips_for_other_daemons(tmp_path, monkeypatch, daemon):
    """A session whose workers do not fork from ``pydaemon`` (a vanilla
    session, a cluster) still gets the package as a zip on its
    Python path."""
    import tempfile

    from scraping_jobsdb_spark import session

    added = []

    class Conf:
        def get(self, key, default=None):
            return daemon if key == "spark.python.daemon.module" else default

    class Context:
        def addPyFile(self, path):
            added.append(path)

    class Session:
        conf = Conf()
        sparkContext = Context()

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    session.ship_package(Session())
    (zip_path,) = tmp_path.glob("scraping_jobsdb_spark-pyfiles-*.zip")
    assert added == [str(zip_path)]
    with zipfile.ZipFile(zip_path) as zf:
        assert "scraping_jobsdb_spark/operators/textops.py" in zf.namelist()
