"""``get_spark`` sizes ``spark.sql.shuffle.partitions`` from the master URL,
and ``forget_zip_importers`` empties the zipimporter cache without breaking
later imports.

A recording stand-in for ``SparkSession.builder`` captures the settings, so
the shared test session's configuration is never touched."""
import importlib
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pytest

from extractor import session


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _level: None)
        )


@pytest.fixture()
def builder(monkeypatch):
    rec = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=rec))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    return rec


@pytest.mark.parametrize(
    "master,partitions",
    [
        (None, "5"),
        ("local", "1"),
        ("local[3]", "3"),
        ("local[2,2]", "2"),
        ("local[*,4]", "5"),
    ],
)
def test_shuffle_partitions_follow_master_threads(builder, master, partitions):
    session.get_spark(master=master)
    assert builder.conf["master"] == (master or "local[5]")
    assert builder.conf["spark.sql.shuffle.partitions"] == partitions



def test_forget_zip_importers(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_first.py", "VALUE = 1\n")
        zf.writestr("zipmod_second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        import zipmod_first

        assert zipmod_first.VALUE == 1
        assert isinstance(
            sys.path_importer_cache[str(archive)], zipimport.zipimporter
        )
        session.forget_zip_importers()
        assert not any(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        importlib.invalidate_caches()
        import zipmod_second

        assert zipmod_second.VALUE == 2
    finally:
        for name in ("zipmod_first", "zipmod_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
