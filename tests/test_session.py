"""session.local_checkpoint's reliable mode and get_spark's checkpoint
cleanup, checked against stub contexts so no cluster is needed."""

from __future__ import annotations

import types

import pytest

from ftp_blueprints_spark import session


class _StubContext:
    """The SparkContext surface local_checkpoint touches. Like Spark,
    setCheckpointDir checkpoints into a fresh qualified <dir>/<uuid>."""

    def __init__(self, master: str, checkpoint_dir: str | None = None):
        self.master = master
        self._dir = checkpoint_dir
        self.set_calls: list[str] = []

    def getCheckpointDir(self):
        return self._dir

    def setCheckpointDir(self, d: str) -> None:
        self.set_calls.append(d)
        self._dir = f"file:{d}/{len(self.set_calls)}-uuid"


class _StubFrame:
    def __init__(self, sc: _StubContext):
        self.sparkSession = types.SimpleNamespace(sparkContext=sc)

    def checkpoint(self, eager: bool):
        return "reliable"

    def localCheckpoint(self, eager: bool):
        return "local"


def test_reliable_checkpoint_needs_shared_dir_off_local(monkeypatch):
    """A non-local master has no driver-local fallback: without
    SPARK_GRAFT_CHECKPOINT_DIR the reliable mode refuses loudly
    instead of checkpointing into a directory the executors do not
    share. A local master still gets a temp dir."""
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    sc = _StubContext("spark://cluster:7077")
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        session.local_checkpoint(_StubFrame(sc))
    assert sc.set_calls == []

    monkeypatch.setattr("tempfile.mkdtemp", lambda prefix: "/tmp/stub_ck")
    local = _StubContext("local[2]")
    assert session.local_checkpoint(_StubFrame(local)) == "reliable"
    assert local.set_calls == ["/tmp/stub_ck"]


def test_reliable_checkpoint_dir_repoints_a_differing_context(monkeypatch):
    """A set SPARK_GRAFT_CHECKPOINT_DIR wins over a dir the context
    already has (first-set-wins would checkpoint into the old one),
    and a context already pointed there is left alone."""
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", "hdfs://nn/ck")
    sc = _StubContext("yarn", checkpoint_dir="file:/tmp/elsewhere/abc-uuid")
    assert session.local_checkpoint(_StubFrame(sc)) == "reliable"
    assert sc.set_calls == ["hdfs://nn/ck"]
    session.local_checkpoint(_StubFrame(sc))
    assert sc.set_calls == ["hdfs://nn/ck"]

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", "hdfs://nn/other")
    session.local_checkpoint(_StubFrame(sc))
    assert sc.set_calls == ["hdfs://nn/ck", "hdfs://nn/other"]


def test_default_checkpoint_stays_local(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    sc = _StubContext("spark://cluster:7077")
    assert session.local_checkpoint(_StubFrame(sc)) == "local"
    assert sc.set_calls == []


def test_get_spark_cleans_reliable_checkpoints(spark):
    """Reliable checkpoint files are removed with their RDD; otherwise
    the per-micro-batch sites grow the checkpoint dir without bound."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
