"""``get_spark`` sizes ``spark.sql.shuffle.partitions`` from the master URL.

A recording stand-in for ``SparkSession.builder`` captures the settings, so
the shared test session's configuration is never touched."""
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
        ("local[3]", "3"),
        ("local[2,2]", "2"),
        ("local[*,4]", "5"),
    ],
)
def test_shuffle_partitions_follow_master_threads(builder, master, partitions):
    session.get_spark(master=master)
    assert builder.conf["master"] == (master or "local[5]")
    assert builder.conf["spark.sql.shuffle.partitions"] == partitions

