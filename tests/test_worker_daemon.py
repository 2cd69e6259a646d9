"""The engine's Python-worker daemon (etl_pipeline_old_spark.worker_daemon):
its sys.path rule, run on a fake Spark home, and the workers of the engine
session importing pyspark from real files with no zip importer left."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pyspark
import pytest

from etl_pipeline_old_spark.worker_daemon import worker_sys_path

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_VERSION = b"__version__: str = '4.1.2'\n"


def _zip(path, files):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _tree(root, files):
    for name, data in files.items():
        dest = os.path.join(root, name)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "wb") as fh:
            fh.write(data)


@pytest.fixture
def layout(tmp_path, monkeypatch):
    """A Spark home reached through a symlink (archives under both spellings
    of it), a user zip and egg outside it, and a site-packages holding the
    same pyspark and a py4j. Resolving specs fills the importer cache, so
    each test gets its own."""
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    real_home = tmp_path / "spark-4.1.2-bin"
    real_home.mkdir()
    os.symlink(real_home, tmp_path / "spark")
    lib = tmp_path / "spark" / "python" / "lib"
    spark = [
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": _VERSION}),
        _zip(lib / "py4j-src.zip", {"py4j/__init__.py": b""}),
        _zip(real_home / "jars" / "spark-core.jar", {"META-INF/MANIFEST.MF": b""}),
    ]
    user = [
        _zip(tmp_path / "user" / "deps.zip", {"deps/__init__.py": b""}),
        _zip(tmp_path / "user" / "tool.egg", {"tool/__init__.py": b""}),
    ]
    site = tmp_path / "site"
    _tree(site, {"pyspark/__init__.py": b"", "pyspark/version.py": _VERSION, "py4j/__init__.py": b""})
    cwd = str(tmp_path / "work")
    os.makedirs(cwd)
    return {
        "tmp": tmp_path,
        "home": str(tmp_path / "spark"),
        "site": site,
        "path": [cwd, *spark, *user, str(site)],
        "kept": [cwd, *user, str(site)],
    }


def _run(layout, home):
    path = layout["path"]
    cache = {p: f"importer of {p}" for p in path}
    return path, cache, worker_sys_path(path, cache, home)


def test_spark_archives_and_their_importers_are_dropped(layout):
    path, cache, (new_path, new_cache) = _run(layout, layout["home"])
    assert new_path == layout["kept"]
    assert new_cache == {p: cache[p] for p in layout["kept"]}
    assert path == layout["path"], "the input path is not mutated"


def _no_spark_archives(layout):
    layout["path"] = list(layout["kept"])


def _no_pyspark(layout):
    os.remove(os.path.join(layout["site"], "pyspark", "__init__.py"))


def _no_py4j(layout):
    os.remove(os.path.join(layout["site"], "py4j", "__init__.py"))


def _other_version(layout):
    with open(os.path.join(layout["site"], "pyspark", "version.py"), "wb") as fh:
        fh.write(b"__version__: str = '4.0.0'\n")


def _pyspark_only_in_user_zip(layout):
    _no_pyspark(layout)
    bundled = {"pyspark/__init__.py": b"", "pyspark/version.py": _VERSION}
    layout["path"].insert(-1, _zip(layout["tmp"] / "user" / "pyspark.zip", bundled))


@pytest.mark.parametrize(
    "home, breakage",
    [
        (None, None),
        ("", None),
        ("home", _no_spark_archives),
        ("home", _no_pyspark),
        ("home", _no_py4j),
        ("home", _other_version),
        ("home", _pyspark_only_in_user_zip),
    ],
    ids=[
        "home-unset", "home-empty", "no-archives", "no-pyspark", "no-py4j",
        "version-mismatch", "pyspark-in-user-zip",
    ],
)
def test_path_left_as_spark_built_it(layout, home, breakage):
    if breakage:
        breakage(layout)
    path, cache, (new_path, new_cache) = _run(layout, layout[home] if home else home)
    assert new_path == path
    assert new_cache == cache


def test_package_import_leaves_pyspark_unloaded():
    # `python -m etl_pipeline_old_spark.worker_daemon` loads the package
    # and the module before the module settles sys.path
    code = (
        "import sys, etl_pipeline_old_spark, etl_pipeline_old_spark.worker_daemon;"
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"


def test_session_workers_import_pyspark_from_real_files(spark):
    def probe(batches):
        import importlib
        import time

        import pandas as pd
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            best = min(best, time.perf_counter() - t0)
        kinds = sorted({type(v).__name__ for v in sys.path_importer_cache.values()})
        yield pd.DataFrame(
            {"file": [worker_pyspark.__file__], "kinds": [",".join(kinds)], "invalidate_s": [best]}
        )

    rows = (
        spark.range(0, 4, numPartitions=2)
        .mapInPandas(probe, "file string, kinds string, invalidate_s double")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.file == pyspark.__file__ and os.path.isfile(r.file), r
        assert "zipimporter" not in r.kinds.split(","), r
        assert r.invalidate_s < 1e-3, r


def test_workers_import_the_package_from_a_foreign_cwd(tmp_path):
    # a caller that puts the repo on sys.path in code, from another working
    # directory and with no PYTHONPATH: the workers must still find the
    # daemon module (get_spark hands them the package's parent directory)
    code = (
        "import sys\n"
        f"sys.path.insert(0, {_ROOT!r})\n"
        "from etl_pipeline_old_spark.session import get_spark\n"
        "spark = get_spark('foreign_cwd', cpus=1)\n"
        "def double(batches):\n"
        "    for pdf in batches:\n"
        "        yield pdf.assign(y=pdf.x * 2)\n"
        "df = spark.range(3).withColumnRenamed('id', 'x')\n"
        "rows = df.mapInPandas(double, 'x long, y long').collect()\n"
        "print(sorted((r.x, r.y) for r in rows))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_SCRATCH_BASE"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[(0, 0), (1, 2), (2, 4)]"
