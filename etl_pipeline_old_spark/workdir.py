"""Per-process scratch roots, and the one way fixtures are staged in them.

Paths are keyed by a session token that embeds the pid.  The first use in
a process *reaps* every sibling ``sess_<pid>`` dir whose pid is no longer
alive, and ``atexit`` removes this process's own root.  Two live processes
therefore never share scratch dirs, while the base holds only the dirs of
live processes (plus at most those of a ``kill -9`` victim, which the next
run reaps).  Nothing else under the base is ever touched, so
``SPARK_GRAFT_SCRATCH_BASE`` may name a directory that holds other data.

Fixtures live at :func:`scratch_path` ``(kind, sf_dir)``.
:func:`stage_fixture` builds one at most once per process, and
:func:`write_atomic` is the executor-side file write that concurrent task
attempts may race on.

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
import threading
import uuid


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


def _reap_dead_sessions() -> None:
    try:
        entries = os.listdir(_BASE)
    except OSError:
        return
    for name in entries:
        m = _SESS_RE.match(name)
        if m and int(m.group(1)) != os.getpid() and not _pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(_BASE, name), ignore_errors=True)


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


def scratch_path(kind: str, sf_dir: str) -> str:
    """``<cache_root>/<kind>_<basename of sf_dir>``: stable per (kind,
    sf_dir) within this process, so reruns find what an earlier call
    staged."""
    return os.path.join(
        cache_root(), f"{kind}_{os.path.basename(os.path.normpath(sf_dir))}"
    )


def run_dir(tag: str, sf_dir: str) -> str:
    """Fresh working dir, stable per (tag, sf_dir) WITHIN this process.

    rmtree-first keeps within-process reruns idempotent; the returned
    DataFrames read lazily from these files, so cleanup is deferred to the
    next rerun or to process exit (atexit above) — never a finally block.
    """
    d = scratch_path(tag, sf_dir)
    shutil.rmtree(d, ignore_errors=True)
    return d


_MARKER = "_STAGED"
_stage_locks: dict[str, threading.Lock] = {}
_stage_locks_guard = threading.Lock()


def stage_fixture(kind: str, sf_dir: str, build) -> str:
    """The fixture dir :func:`scratch_path` ``(kind, sf_dir)``, built once.

    ``build(path)`` runs in the created dir only while its ``_STAGED``
    marker is absent, and the marker is written once it returns, so a
    build that raises is redone by the next call.  Threads staging the
    same fixture wait on one per-path lock instead of building it twice.
    """
    path = scratch_path(kind, sf_dir)
    with _stage_locks_guard:
        lock = _stage_locks.setdefault(path, threading.Lock())
    with lock:
        marker = os.path.join(path, _MARKER)
        if not os.path.exists(marker):
            os.makedirs(path, exist_ok=True)
            build(path)
            open(marker, "w").close()
    return path


def write_atomic(dir: str, name: str, blob: bytes) -> None:
    """Write ``dir/name`` so that readers only ever see a whole file.

    Each writer (a retried or speculative task attempt, or another process
    staging the same shard) fills its own uuid-named hidden tmp file and
    they race only on the atomic ``os.replace``.
    """
    tmp = os.path.join(dir, f".{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(blob)
    os.replace(tmp, os.path.join(dir, name))


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
