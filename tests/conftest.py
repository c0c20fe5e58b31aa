from __future__ import annotations

import uuid

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from ecu_sbl_aace_datalake_spark import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def viewfs_lakehouse(spark, tmp_path, monkeypatch):
    """``(lakehouse, target)``: a lakehouse on a ``viewfs://`` mount table,
    a real non-``file`` URI scheme, whose files land in the local dir
    ``target``. The mount link is ``{tmp_path}/lake`` and the test runs in
    ``tmp_path``, so code that takes the URI for a local path writes
    under ``tmp_path`` too, never into the lake."""
    from ecu_sbl_aace_datalake_spark.sources.catalog import Lakehouse

    name = f"lake{uuid.uuid4().hex}"  # a fresh FileSystem cache key per test
    link = f"{tmp_path}/lake"
    target = tmp_path / "target"
    target.mkdir()
    key = f"fs.viewfs.mounttable.{name}.link.{link}"
    conf = spark._jsc.hadoopConfiguration()
    conf.set(key, target.as_uri())
    monkeypatch.chdir(tmp_path)
    yield Lakehouse("viewfs", f"viewfs://{name}{link}"), target
    conf.unset(key)


@pytest.fixture
def crash_renames(monkeypatch):
    """Call it to make every Hadoop FileSystem rename in ``sources.io``
    raise, as a driver killed just before that rename would;
    ``monkeypatch.undo()`` ends it."""
    from ecu_sbl_aace_datalake_spark.sources import io

    hadoop = io._hadoop

    class CrashOnRename:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, *_args):
            raise OSError("interrupted before the rename")

    def crashing_hadoop(spark, path):
        fs, hp = hadoop(spark, path)
        return CrashOnRename(fs), hp

    return lambda: monkeypatch.setattr(io, "_hadoop", crashing_hadoop)
