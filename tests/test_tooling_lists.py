"""Tooling name-list guards: bench.py HEADLINE, gen_plans SHOWCASE, and
hostile_sweep REPEAT_QUERIES all reference registry queries by name and
FILTER-drop (or merely warn on) unknown names — so a renamed query would
silently vanish from the bench suite, the plans doc, or the idempotency
sweep. Pin every list to the live registry. Source scans also pin the
batch binaryFile read to its one implementation, the SparkSession
builder to the one session factory, testdata table reads to the
catalog, fixture staging to workdir, bit I/O and varints to
operators/bitio.py, and stdlib decompression to operators/compression.py;
a last scan keeps unused imports out of the package."""

from __future__ import annotations

import ast
import importlib.util
import os
import sys

from etl_pipeline_old_spark.registry import QUERIES, _ensure_loaded

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def test_bench_headline_names_resolve():
    _ensure_loaded()
    bench = _load(os.path.join(_ROOT, "bench.py"), "_bench_for_test")
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"bench.py HEADLINE names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicates"


def test_gen_plans_showcase_names_resolve():
    _ensure_loaded()
    gp = _load(
        os.path.join(_ROOT, "tools", "gen_plans.py"), "_gen_plans_for_test"
    )
    missing = [n for n in gp.SHOWCASE if n not in QUERIES]
    assert not missing, f"gen_plans SHOWCASE names not in registry: {missing}"


def test_repeat_sweep_names_resolve():
    _ensure_loaded()
    hs = _load(
        os.path.join(_ROOT, "tools", "hostile_sweep.py"), "_sweep_for_test"
    )
    missing = [n for n in hs.REPEAT_QUERIES if n not in QUERIES]
    assert not missing, f"REPEAT_QUERIES names not in registry: {missing}"
    assert len(set(hs.REPEAT_QUERIES)) == len(hs.REPEAT_QUERIES)


def _batch_binaryfile_reads(tree: ast.AST):
    """Line numbers of ``<x>.read[...].format("binaryFile")`` (or
    ``.load(..., format="binaryFile")``) calls; ``readStream`` is not one."""
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("format", "load")
        ):
            continue
        args = [*node.args, *(k.value for k in node.keywords if k.arg == "format")]
        if not any(isinstance(a, ast.Constant) and a.value == "binaryFile" for a in args):
            continue
        recv = node.func.value
        while isinstance(recv, (ast.Attribute, ast.Call)):
            if isinstance(recv, ast.Call):
                recv = recv.func
            elif recv.attr in ("read", "readStream"):
                if recv.attr == "read":
                    yield node.lineno
                break
            else:
                recv = recv.value


def _package_sources():
    """``(module path, source)`` of every package module."""
    pkg = os.path.join(_ROOT, "etl_pipeline_old_spark")
    for dirpath, _dirs, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, pkg), fh.read()


def _package_scan(find) -> dict[str, list[int]]:
    """``{module path: line numbers}`` of ``find`` over every package module."""
    found = {}
    for path, source in _package_sources():
        lines = list(find(ast.parse(source)))
        if lines:
            found[path] = lines
    return found


def test_batch_binaryfile_reads_go_through_read_blobs():
    found = _package_scan(_batch_binaryfile_reads)
    helper = os.path.join("sources", "files.py")
    assert helper in found, "the scan no longer finds read_blobs' own read"
    del found[helper]
    assert not found, f"batch binaryFile reads outside read_blobs: {found}"


def _session_builders(tree: ast.AST):
    """Line numbers of ``SparkSession.builder`` (also ``x.SparkSession.builder``)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "builder":
            recv = node.value
            name = recv.attr if isinstance(recv, ast.Attribute) else getattr(recv, "id", None)
            if name == "SparkSession":
                yield node.lineno


def test_only_the_session_factory_builds_sessions():
    # every engine session must start its Python workers from the engine's
    # daemon module, which only session.get_spark configures
    found = _package_scan(_session_builders)
    assert "session.py" in found, "the scan no longer finds get_spark's builder"
    del found["session.py"]
    assert not found, f"SparkSession.builder outside session.py: {found}"


def _table_path_parquet_reads(tree: ast.AST):
    """Line numbers of ``<x>.parquet(table_path(...))`` (also ``x.table_path``)."""
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        for arg in node.args:
            if isinstance(arg, ast.Call):
                fn = arg.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name == "table_path":
                    yield node.lineno


def test_testdata_tables_are_read_through_the_catalog():
    # a direct read infers the table's schema with a Spark job on every
    # call; catalog.load_table and parquet_schema infer it once per file
    probe = "spark.read.parquet(catalog.table_path(d, 'nation'))"
    assert list(_table_path_parquet_reads(ast.parse(probe))) == [1]
    found = _package_scan(_table_path_parquet_reads)
    found.pop("catalog.py", None)
    assert not found, f".parquet(table_path(...)) outside catalog.py: {found}"


def _staging_spellings(tree: ast.AST):
    """Line numbers of a ``"_STAGED"`` literal, a ``def _tag``, or an import
    of the deleted ``sources_formats`` facade."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and node.value == "_STAGED":
            yield node.lineno
        elif isinstance(node, ast.FunctionDef) and node.name == "_tag":
            yield node.lineno
        elif isinstance(node, ast.ImportFrom):
            mods = [node.module or "", *(a.name for a in node.names)]
            if any(m.split(".")[-1] == "sources_formats" for m in mods):
                yield node.lineno
        elif isinstance(node, ast.Import):
            if any(a.name.split(".")[-1] == "sources_formats" for a in node.names):
                yield node.lineno


def test_fixture_staging_lives_in_workdir():
    # workdir.stage_fixture owns the marker and scratch_path the
    # <kind>_<sf> naming; a second copy of either drifts from the first
    probe = (
        'm = os.path.join(p, "_STAGED")\n'
        "def _tag(d): pass\n"
        "from .sources_formats import x\n"
        "from . import sources_formats\n"
        "import etl_pipeline_old_spark.queries.sources_formats\n"
    )
    assert sorted(_staging_spellings(ast.parse(probe))) == [1, 2, 3, 4, 5]
    found = _package_scan(_staging_spellings)
    assert "workdir.py" in found, "the scan no longer finds workdir's marker"
    del found["workdir.py"]
    assert not found, f"staging spelled outside workdir.py: {found}"


def _bit_io_spellings(tree: ast.AST):
    """Names of classes called ``*Bit*``, ``*LSB*`` or ``*MSB*`` (any case),
    and ``line <n>`` of each ``(… & 0x7F) << shift`` varint accumulation
    (a shift by a variable, not a constant)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef):
            name = node.name
            if "Bit" in name or "LSB" in name.upper() or "MSB" in name.upper():
                yield name
        elif (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.LShift)
            and isinstance(node.left, ast.BinOp)
            and isinstance(node.left.op, ast.BitAnd)
            and any(
                isinstance(x, ast.Constant) and x.value == 0x7F
                for x in (node.left.left, node.left.right)
            )
            and not isinstance(node.right, ast.Constant)
        ):
            yield f"line {node.lineno}"


# JPEG's reader and writer handle byte stuffing and markers; zstd's
# backward reader peeks past the start with zero fill
_OWN_BIT_IO = {
    os.path.join("operators", "jpeg.py"): {"_BitReader", "_BitWriter"},
    os.path.join("operators", "zstd.py"): {"_BackBits"},
}


def test_bit_io_and_varints_live_in_bitio():
    probe = (
        "class _BitReader: pass\n"
        "class _LSBWriter: pass\n"
        "v |= (b & 0x7F) << shift\n"
        "n = (b & 0x7F) << 7\n"
    )
    assert sorted(_bit_io_spellings(ast.parse(probe))) == [
        "_BitReader", "_LSBWriter", "line 3"]
    found = _package_scan(_bit_io_spellings)
    bitio = os.path.join("operators", "bitio.py")
    assert bitio in found, "the scan no longer finds bitio's own definitions"
    del found[bitio]
    for path, exempt in _OWN_BIT_IO.items():
        rest = [x for x in found.pop(path, []) if x not in exempt]
        if rest:
            found[path] = rest
    assert not found, f"bit I/O or varints outside operators/bitio.py: {found}"


_STDLIB_CODECS = {"zlib", "gzip", "bz2", "lzma"}
_DECODERS = {"decompress", "decompressobj", "BZ2Decompressor", "LZMADecompressor"}


def _stdlib_decompression(tree: ast.AST):
    """``(name, line)`` of each stdlib decoder used or imported by name,
    e.g. ``zlib.decompress`` (also through ``import zlib as z``)."""
    modules = {
        alias.asname or alias.name
        for node in ast.walk(tree)
        if isinstance(node, ast.Import)
        for alias in node.names
        if alias.name in _STDLIB_CODECS
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module in _STDLIB_CODECS:
            for alias in node.names:
                if alias.name in _DECODERS:
                    yield alias.name, node.lineno
        elif (
            isinstance(node, ast.Attribute)
            and node.attr in _DECODERS
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            yield node.attr, node.lineno


def test_decompression_lives_in_compression():
    # one bounded decoder; xz and 7z keep raw LZMA because their
    # containers own the filter chain
    probe = (
        "import bz2 as b\n"
        "from lzma import LZMADecompressor\n"
        "zlib.decompress(x)\n"
        "import zlib\n"
        "b.decompress(zlib.decompressobj(-15))\n"
        "snappy.decompress(x)\n"
    )
    assert sorted(_stdlib_decompression(ast.parse(probe))) == [
        ("LZMADecompressor", 2), ("decompress", 3), ("decompress", 5),
        ("decompressobj", 5)]
    found = _package_scan(_stdlib_decompression)
    home = os.path.join("operators", "compression.py")
    assert home in found, "the scan no longer finds compression's decoders"
    del found[home]
    for raw_lzma in ("xz.py", "sevenzip.py"):
        path = os.path.join("operators", raw_lzma)
        rest = [x for x in found.pop(path, []) if x[0] != "LZMADecompressor"]
        if rest:
            found[path] = rest
    assert not found, f"decompression outside operators/compression.py: {found}"


def _unused_imports(source: str) -> list[str]:
    """Names a module imports and never reads; ``__future__`` imports
    and ``noqa`` lines (deliberate availability probes) are skipped."""
    tree = ast.parse(source)
    lines = source.splitlines()
    imported = [
        (alias.asname or alias.name).split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        and getattr(node, "module", None) != "__future__"
        and "noqa" not in lines[node.end_lineno - 1]
        for alias in node.names
    ]
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [name for name in dict.fromkeys(imported) if name not in used]


def test_package_modules_have_no_unused_imports():
    # no linter runs in CI; package __init__ modules re-export by import
    probe = (
        "import os\n"
        "import re  # noqa: F401\n"
        "import a.b\n"
        "from c import d, e as f\n"
        "print(f, a.b)\n"
    )
    assert _unused_imports(probe) == ["os", "d"]
    found = {
        path: names
        for path, source in _package_sources()
        if os.path.basename(path) != "__init__.py"
        and (names := _unused_imports(source))
    }
    assert not found, f"unused imports: {found}"
