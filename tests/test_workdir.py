"""Cross-process scratch-dir isolation (ADVICE r4): pid-keyed session roots,
dead-pid reaping, atexit cleanup registration."""

from __future__ import annotations

import os
import subprocess

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


def test_legacy_layout_dirs_are_reaped_only_when_idle(tmp_path, monkeypatch):
    """r3 pid-suffixed and r4 stable per-(tag, sf_dir) dirs live directly
    under the base; current code only writes inside sess_* roots, so any
    non-sess entry is residue from an older scheme — but it is swept only
    once untouched for >1h (ADVICE r5: a concurrently-live pre-session
    process keeps touching its dirs, so recent mtime means hands off)."""
    _fresh(monkeypatch, tmp_path)
    legacy = tmp_path / "ann_probe_sf0.01_12345_chk"
    legacy.mkdir()
    (tmp_path / "derby_sf0.01").mkdir()
    W.cache_root()
    # just-created: mtime is NOW, both survive the sweep
    assert legacy.exists()
    assert (tmp_path / "derby_sf0.01").exists()
    # a live writer touches nested FILES without updating the top dir's
    # mtime (streaming offsets/, Derby seg0/*.dat) — the gate must stat
    # the whole tree, so a stale-rooted dir with one fresh nested file
    # survives while fully-idle trees are reaped (r6 review)
    live = tmp_path / "feed_sf0.01_99999"
    (live / "offsets").mkdir(parents=True)
    nested = live / "offsets" / "0"
    nested.write_text("batch")
    sweep_now = os.path.getmtime(legacy) + 3601
    os.utime(nested, (sweep_now - 10, sweep_now - 10))
    old = (sweep_now - 7200, sweep_now - 7200)
    os.utime(live, old)
    os.utime(live / "offsets", old)
    # simulate >1h idle by advancing the sweep's clock
    _fresh(monkeypatch, tmp_path)
    monkeypatch.setattr(W, "_now", lambda: sweep_now)
    W.cache_root()
    assert not legacy.exists()
    assert not (tmp_path / "derby_sf0.01").exists()
    assert nested.exists()  # fresh nested write kept the whole tree alive


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
