"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import datagen  # noqa: E402
import kernels  # noqa: E402
from run import Run, core_count  # noqa: E402


class _Frame:
    """Stands in for a Spark DataFrame: all the check needs is toPandas()."""

    def __init__(self, df: pd.DataFrame):
        self.df = df

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - Spark's name
        return self.df


ORACLE = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.25)) t(k, name, x)"


def test_right_result_accepted_and_wrong_result_rejected():
    con = duckdb.connect()
    right = pd.DataFrame({"k": [2, 1], "name": ["b", "a"], "x": [1.25, 0.5]})
    assert check.check_query(_Frame(right), con, ORACLE) == (True, "ok")
    for wrong in (
        right.assign(x=[1.25, 0.51]),  # one value off
        right.iloc[:1],  # a row missing
        right.rename(columns={"x": "y"}),  # a column renamed
    ):
        ok, detail = check.check_query(_Frame(wrong), con, ORACLE)
        assert not ok, detail


def test_missing_oracle_and_raising_query_fail():
    con = duckdb.connect()

    class Raising:
        def toPandas(self):  # noqa: N802
            raise RuntimeError("executor lost")

    assert not check.check_query(_Frame(pd.DataFrame()), con, None)[0]
    ok, detail = check.check_query(Raising(), con, ORACLE)
    assert not ok and "executor lost" in detail


def test_run_rejects_a_wrong_result(tmp_path):
    from argparse import Namespace
    from types import SimpleNamespace

    right = pd.DataFrame({"k": [1, 2], "name": ["a", "b"], "x": [0.5, 1.25]})
    run = Run(Namespace(workload="etl_batch", trace=0, seconds=1), {"data": str(tmp_path)}, 1)
    run.queries = {
        "good": SimpleNamespace(fn=lambda spark, d: _Frame(right), oracle=ORACLE),
        "bad": SimpleNamespace(fn=lambda spark, d: _Frame(right.assign(k=[1, 3])), oracle=ORACLE),
    }
    assert run.warm_and_check() == {"good"}
    assert (run.attempted, run.failed) == (2, 1)
    assert run.problems[0].startswith("bad check: value mismatch")


def test_core_count_parses_strictly():
    assert core_count({}) == len(os.sched_getaffinity(0))
    assert core_count({"SPARK_GRAFT_CPUS": " 3 "}) == 3
    for bad in ("", " ", "0", "-2", "2.5", "four"):
        with pytest.raises(ValueError):
            core_count({"SPARK_GRAFT_CPUS": bad})


def _file_bytes(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_datagen_same_seed_same_tables(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows = datagen.generate(a, 0.001, 7)
    datagen.generate(b, 0.001, 7)
    datagen.generate(c, 0.001, 8)
    assert rows["lineitem"] == 6000 and rows["documents"] == 50
    assert _file_bytes(a) == _file_bytes(b)
    assert _file_bytes(a)["lineitem.parquet"] != _file_bytes(c)["lineitem.parquet"]


def test_kernel_decoders_recover_encoder_inputs():
    data = kernels.corpus(seed=3, n=4)
    for kernel, decode in kernels._decoders().items():
        for blob, want in data[kernel]:
            assert decode(blob) == want
