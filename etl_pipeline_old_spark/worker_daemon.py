"""Python-worker daemon of the engine's sessions.

Spark starts an executor's Python workers from ``python -m <daemon module>``
(``spark.python.daemon.module``, set by :func:`.session.get_spark`), with
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the spark-core jar
at the front of ``sys.path``. Each task then calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` re-read its archive: about 0.2 s per task. When the same
pyspark and py4j resolve from real files further down the path, this
module drops Spark's archives (and their cached importers) before it
imports pyspark, so the call takes microseconds. Otherwise the path stays
exactly as Spark built it.

Stdlib only, and the package ``__init__`` imports nothing: both run before
the path is settled.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def _on_disk(spec) -> bool:
    return spec is not None and spec.origin is not None and os.path.isfile(spec.origin)


def _version_py(spec) -> bytes | None:
    """Source of the ``version.py`` beside a package's ``__init__``, or None."""
    if spec is None or spec.origin is None:
        return None
    try:
        return spec.loader.get_data(os.path.join(os.path.dirname(spec.origin), "version.py"))
    except OSError:
        return None


def _serves_spark(path: list[str], archives: list[str]) -> bool:
    """True when ``pyspark`` and ``py4j`` resolve to real files on ``path``
    and that pyspark's ``version.py`` equals the one in ``archives``."""
    pyspark = PathFinder.find_spec("pyspark", path)
    if not (_on_disk(pyspark) and _on_disk(PathFinder.find_spec("py4j", path))):
        return False
    own = _version_py(pyspark)
    return own is not None and own == _version_py(PathFinder.find_spec("pyspark", archives))


def worker_sys_path(path: list[str], cache: dict, spark_home: str | None) -> tuple[list[str], dict]:
    """``(path, cache)`` without the archive files under ``spark_home``.

    Drops them only when the rest of the path serves the same pyspark from
    real files (:func:`_serves_spark`); otherwise returns copies of the
    inputs unchanged.
    """
    archives = []
    if spark_home:
        home = os.path.join(os.path.realpath(spark_home), "")
        archives = [p for p in path if os.path.isfile(p) and os.path.realpath(p).startswith(home)]
    kept = [p for p in path if p not in archives]
    if not (archives and _serves_spark(kept, archives)):
        return list(path), dict(cache)
    return kept, {k: v for k, v in cache.items() if k not in archives}


def main() -> None:
    path, cache = worker_sys_path(sys.path, sys.path_importer_cache, os.environ.get("SPARK_HOME"))
    sys.path[:] = path
    for key in sys.path_importer_cache.keys() - cache.keys():
        del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
