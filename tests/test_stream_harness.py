"""The registry's shared stream harness: the per-process scratch root and
the bounded stream wait of both runners (CDC pipeline and memory sink)."""

from __future__ import annotations

import os
import subprocess

import pytest

import etl_consumer_spark.plans.queries as Q
from tests.conftest import SF_DIR


def test_scratch_dirs_share_one_root_removed_by_exit_hook(tmp_path, monkeypatch):
    hooks = []
    monkeypatch.setattr(Q.atexit, "register", hooks.append)
    monkeypatch.setattr(Q.tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(Q, "_scratch_root", None)

    a = Q._scratch_dir("stream_a_")
    b = Q._scratch_dir("src_b_")
    root = os.path.dirname(a)
    assert os.path.dirname(b) == root
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(a).startswith("stream_a_")
    assert os.path.basename(b).startswith("src_b_")
    assert hooks == [Q._remove_scratch_root]

    hooks[0]()
    assert not os.path.exists(root)
    hooks[0]()  # a second call is harmless


def test_scratch_root_removes_roots_of_dead_pids(tmp_path, monkeypatch):
    """A process killed by a signal skips the exit hook; the next process to
    make its root removes roots whose pid is gone and keeps live ones."""
    monkeypatch.setattr(Q.atexit, "register", lambda hook: None)
    monkeypatch.setattr(Q.tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(Q, "_scratch_root", None)
    child = subprocess.Popen(["true"])
    child.wait()
    dead = tmp_path / f"etl_scratch_{child.pid}_0badc0de"
    live = tmp_path / f"etl_scratch_{os.getppid()}_0badc0de"
    other = tmp_path / f"etl_scratch_notapid_{child.pid}"
    for d in (dead, live, other):
        (d / "stream_x").mkdir(parents=True)

    Q._scratch_dir("stream_a_")
    assert not dead.exists()
    assert live.exists() and other.exists()


class _StuckQuery:
    """A streaming query whose bounded wait always runs out."""

    def __init__(self):
        self.waited = []
        self.stopped = False

    def awaitTermination(self, timeout=None):
        self.waited.append(timeout)
        return False

    def stop(self):
        self.stopped = True


def test_cdc_stream_timeout_stops_and_raises(spark, monkeypatch):
    from etl_consumer_spark.streaming.pipeline import CDCPipeline

    q = _StuckQuery()
    monkeypatch.setattr(CDCPipeline, "start", lambda self, *a, **kw: q)
    with pytest.raises(TimeoutError, match="stream_cdc_"):
        Q.QUERIES["stream_cdc_full_stack"].fn(spark, SF_DIR)
    assert q.waited and q.waited[0] is not None
    assert q.stopped


def test_memory_stream_timeout_stops_and_raises(spark, monkeypatch):
    from pyspark.sql.streaming import DataStreamWriter

    q = _StuckQuery()
    monkeypatch.setattr(DataStreamWriter, "start", lambda self, *a, **kw: q)
    with pytest.raises(TimeoutError, match="stream_win_"):
        Q.QUERIES["stream_windowed_agg"].fn(spark, SF_DIR)
    assert q.waited and q.waited[0] is not None
    assert q.stopped
