"""Per-process scratch roots: isolation without /tmp (or warehouse) growth.

History of the scheme (ADVICE r3 → r4 → r5):

- r3 keyed every scratch dir by pid/uuid — isolated, but /tmp accumulated
  one dir tree per run forever;
- r4 dropped the pid for stable per-(tag, sf_dir) paths — no accumulation,
  but two live processes over the same sf_dir (bench.py while pytest runs,
  or the driver while anything runs) could ``rmtree``/overwrite each
  other's live feed, checkpoint and Derby database dirs mid-query;
- r5 (this module) settles both: paths are keyed by a session token that
  embeds the pid.  The first use in a process *reaps* every sibling token
  dir whose recorded pid is no longer alive, and ``atexit`` removes this
  process's own root.  Two live processes therefore never share scratch
  dirs, while /tmp holds only the dirs of live processes (plus at most
  those of a ``kill -9`` victim, which the next run reaps).

The same token suffixes ``saveAsTable`` names (``bq_orders_*``,
``stats_orders_*``): the in-memory catalog is already per-JVM, but the
warehouse *files* under ``spark.sql.warehouse.dir`` are shared, so
concurrent overwrites of a same-named table could corrupt a reader.
:func:`reap_warehouse` applies the dead-pid sweep to the warehouse dir.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import time

_now = time.time  # seam: tests monkeypatch to simulate idle age


def _pick_base() -> str:
    """Scratch base: RAM-backed when available (r15, guide §6).

    Everything under here is per-process, reaped, and atexit-removed —
    staged feeds, streaming checkpoints/state, media fixtures — i.e.
    scratch in the strict sense, never a durability surface. Putting it
    on tmpfs takes the disk out of the streaming offset/commit-log and
    state-store write path (each micro-batch writes
    shuffle-partition-many state files plus WAL entries). Production
    checkpoints that must survive the process go through the explicit
    ``checkpoint_dir`` parameters / ``SPARK_GRAFT_SCRATCH_BASE`` env
    override instead.

    tmpfs is memory, and container runtimes often mount a small one (64
    MiB by default under Docker): below ``_SHM_FLOOR_BYTES`` free the
    scratch goes to /tmp, so staged fixtures cannot fill RAM or fail on a
    full tmpfs mid-run.
    """
    env = os.environ.get("SPARK_GRAFT_SCRATCH_BASE")
    if env:
        return env
    shm = "/dev/shm"
    if (
        os.path.isdir(shm)
        and os.access(shm, os.W_OK)
        and _free_bytes(shm) >= _SHM_FLOOR_BYTES
    ):
        return os.path.join(shm, "etl_pipeline_old_spark_cache")
    return "/tmp/etl_pipeline_old_spark_cache"


_SHM_FLOOR_BYTES = 1 << 30


def _free_bytes(path: str) -> int:
    try:
        st = os.statvfs(path)
    except OSError:
        return 0
    return st.f_bavail * st.f_frsize


_BASE = _pick_base()
_LEGACY_REAP_AGE_S = 3600.0
_SESS_RE = re.compile(r"^sess_(\d+)$")
_TABLE_RE = re.compile(r"_p(\d+)$")

_initialized = False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else — leave it alone
    return True


def _newest_mtime(path: str) -> float:
    """Newest mtime anywhere under ``path`` (the entry itself, nested dirs,
    and files). A live writer rarely touches the TOP-LEVEL dir's mtime —
    a streaming checkpoint appends under offsets/ and commits/, and a
    Derby db rewrites seg0/*.dat in place (no directory mtime change at
    all) — so an idle gate must look at the deepest activity, not the
    root stat. Legacy residue trees are small (a few hundred MB of
    parquet/checkpoint files), so the one walk per process start is
    cheap."""
    try:
        newest = os.path.getmtime(path)
    except OSError:
        return 0.0
    for dirpath, _dirnames, filenames in os.walk(path):
        for entry in (dirpath, *(os.path.join(dirpath, f) for f in filenames)):
            try:
                newest = max(newest, os.path.getmtime(entry))
            except OSError:
                continue  # vanished mid-walk
    return newest


def _reap_dead_sessions() -> None:
    try:
        entries = os.listdir(_BASE)
    except OSError:
        return
    for name in entries:
        m = _SESS_RE.match(name)
        if m:
            if int(m.group(1)) != os.getpid() and not _pid_alive(int(m.group(1))):
                shutil.rmtree(os.path.join(_BASE, name), ignore_errors=True)
        else:
            # legacy layouts (r3 pid-suffixed dirs, r4 stable per-(tag, sf)
            # dirs) live directly under _BASE; current code only ever
            # writes inside sess_* roots, so anything else is residue from
            # an older scheme — ~300 MB of it observed pre-cleanup.
            # Only reap entries with NO write anywhere in the tree for
            # >1h: a pre-session-token process running concurrently
            # (mixed-version upgrade window) keeps touching its live
            # feed/checkpoint FILES — often without ever updating the
            # top-level dir — so the gate stats the whole tree
            # (_newest_mtime) while still draining dead residue
            # (ADVICE r5 + r6 review).
            path = os.path.join(_BASE, name)
            newest = _newest_mtime(path)
            if newest == 0.0:
                continue  # vanished between listdir and stat
            if _now() - newest > _LEGACY_REAP_AGE_S:
                shutil.rmtree(path, ignore_errors=True)


def cache_root() -> str:
    """This process's scratch root: ``/tmp/.../sess_<pid>``.

    First call per process reaps dead siblings and registers atexit
    removal of this root.  Streaming queries hold lazy readers over files
    in here, so removal must happen at process exit, never mid-run.
    """
    global _initialized
    root = os.path.join(_BASE, f"sess_{os.getpid()}")
    if not _initialized:
        _initialized = True
        _reap_dead_sessions()
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def run_dir(tag: str, sf_dir: str) -> str:
    """Fresh working dir, stable per (tag, sf_dir) WITHIN this process.

    rmtree-first keeps within-process reruns idempotent; the returned
    DataFrames read lazily from these files, so cleanup is deferred to the
    next rerun or to process exit (atexit above) — never a finally block.
    """
    d = os.path.join(
        cache_root(), f"{tag}_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    shutil.rmtree(d, ignore_errors=True)
    return d


def table_name(base: str) -> str:
    """Session-scoped ``saveAsTable`` name: ``<base>_p<pid>``.

    The pid suffix keeps concurrent processes from overwriting each
    other's warehouse files; :func:`reap_warehouse` removes the files once
    the owning process is gone (the catalog entry dies with its JVM).
    """
    return f"{base}_p{os.getpid()}"


def reap_warehouse(spark) -> None:
    """Best-effort removal of warehouse table dirs owned by dead processes."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = re.sub(r"^file:(//)?", "", wh)
    try:
        entries = os.listdir(wh)
    except OSError:
        return
    for name in entries:
        m = _TABLE_RE.search(name)
        if m and int(m.group(1)) != os.getpid() and not _pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
