"""Cross-process scratch-dir isolation (ADVICE r4): pid-keyed session roots,
dead-pid reaping, atexit cleanup registration."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

import etl_pipeline_old_spark.workdir as W


def _fresh(monkeypatch, tmp_path):
    monkeypatch.setattr(W, "_BASE", str(tmp_path))
    monkeypatch.setattr(W, "_initialized", False)


def test_session_root_is_pid_keyed_and_reaps_dead_siblings(tmp_path, monkeypatch):
    _fresh(monkeypatch, tmp_path)
    proc = subprocess.Popen(["true"])
    proc.wait()
    dead = tmp_path / f"sess_{proc.pid}"
    dead.mkdir()
    (dead / "leftover").write_text("x")
    root = W.cache_root()
    assert root == str(tmp_path / f"sess_{os.getpid()}")
    assert os.path.isdir(root)
    assert not dead.exists()  # dead sibling reaped on first use


def test_live_sibling_survives(tmp_path, monkeypatch):
    _fresh(monkeypatch, tmp_path)
    # pid 1 is always alive (init) — a live process's dir must not be touched
    live = tmp_path / "sess_1"
    live.mkdir()
    W.cache_root()
    assert live.exists()


def test_run_dir_is_fresh_and_inside_session_root(tmp_path, monkeypatch):
    _fresh(monkeypatch, tmp_path)
    d = W.run_dir("mytag", "/root/testdata/sf0.001")
    assert d.startswith(W.cache_root())
    assert d.endswith("mytag_sf0.001")
    os.makedirs(d)
    (d := W.run_dir("mytag", "/root/testdata/sf0.001"))  # rerun rmtrees first
    assert not os.path.exists(d)


def test_table_name_embeds_pid():
    assert W.table_name("bq_orders_sf0_01") == f"bq_orders_sf0_01_p{os.getpid()}"


def test_unrelated_dirs_under_the_base_survive(tmp_path, monkeypatch):
    """Only dead ``sess_<pid>`` roots are reaped: the base may be a shared
    directory (``SPARK_GRAFT_SCRATCH_BASE``), so anything else under it,
    however long idle, is left alone."""
    _fresh(monkeypatch, tmp_path)
    data = tmp_path / "my_project" / "data.csv"
    data.parent.mkdir()
    data.write_text("id\n1\n")
    idle = time.time() - 3 * 3600
    for p in (data, data.parent):
        os.utime(p, (idle, idle))
    W.cache_root()
    assert data.read_text() == "id\n1\n"


def test_stage_fixture_builds_once_and_retries_a_failed_build(tmp_path, monkeypatch):
    _fresh(monkeypatch, tmp_path)
    calls = []

    def broken(path):
        calls.append(path)
        raise OSError("disk full")

    with pytest.raises(OSError):
        W.stage_fixture("feed", "/data/sf0.01", broken)

    def build(path):
        calls.append(path)
        W.write_atomic(path, "00000.bin", b"payload")

    path = W.stage_fixture("feed", "/data/sf0.01", build)
    assert W.stage_fixture("feed", "/data/sf0.01/", build) == path
    assert path == W.scratch_path("feed", "/data/sf0.01")
    assert path.endswith("feed_sf0.01")
    assert calls == [path, path]  # the failed build is redone, then never again
    assert sorted(os.listdir(path)) == ["00000.bin", "_STAGED"]  # no tmp left


def test_stage_fixture_threads_build_once(tmp_path, monkeypatch):
    _fresh(monkeypatch, tmp_path)
    calls = []

    def build(path):
        calls.append(path)
        time.sleep(0.05)  # hold the build open while the others arrive

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futures = [pool.submit(W.stage_fixture, "race", "/d/sf1", build) for _ in range(16)]
            paths = {f.result(timeout=30) for f in futures}
    finally:
        sys.setswitchinterval(interval)
    assert len(paths) == 1 and len(calls) == 1


def _statvfs_free(monkeypatch, free_bytes):
    import types

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_BASE", raising=False)
    monkeypatch.setattr(os.path, "isdir", lambda p: True)
    monkeypatch.setattr(os, "access", lambda p, mode: True)
    monkeypatch.setattr(
        os,
        "statvfs",
        lambda p: types.SimpleNamespace(f_bavail=free_bytes // 4096, f_frsize=4096),
    )


def test_scratch_base_prefers_tmpfs_with_room(monkeypatch):
    _statvfs_free(monkeypatch, W._SHM_FLOOR_BYTES)
    assert W._pick_base() == "/dev/shm/etl_pipeline_old_spark_cache"


def test_scratch_base_falls_back_below_tmpfs_floor(monkeypatch):
    _statvfs_free(monkeypatch, 64 << 20)  # a container's default /dev/shm
    assert W._pick_base() == "/tmp/etl_pipeline_old_spark_cache"


def test_scratch_base_falls_back_when_statvfs_fails(monkeypatch):
    _statvfs_free(monkeypatch, 0)

    def broken(path):
        raise OSError("no statvfs")

    monkeypatch.setattr(os, "statvfs", broken)
    assert W._pick_base() == "/tmp/etl_pipeline_old_spark_cache"


def test_scratch_base_override_wins(monkeypatch):
    _statvfs_free(monkeypatch, 0)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_BASE", "/data/scratch")
    assert W._pick_base() == "/data/scratch"
