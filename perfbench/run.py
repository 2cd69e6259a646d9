#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's public query surface.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 16 --trace 0

One run generates its input tables from ``--seed``, starts a
``local[<cores>]`` session with ``session.get_spark``, imports the query
registry, makes the first call of each query of the workload and checks its
result against the query's DuckDB oracle, then runs the workload's untimed
warm-up passes. That is set-up. It then runs a fixed number of timed passes
over the query list (set by ``--seconds``, see ``workloads.py``), one query
at a time, each fully materialized through Spark's ``noop`` sink. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a
traced run (see ``perfbench/README.md``). The line before it is the run
record: commit, cores, parallelism, scale, seed, load and every timing.

Everything a run writes goes under ``.perfbench_work/`` in the checkout and
is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import procfs
from workloads import WORKLOADS

ENGINE = "etl_pipeline_old_spark"


def core_count(env=os.environ) -> int:
    """Cores for the session: ``SPARK_GRAFT_CPUS`` when set, else the CPUs
    this process may run on. A set value must be a positive integer; an
    empty, zero, negative or non-numeric value is an error, never a
    silent fallback."""
    raw = env.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    text = raw.strip()
    if not text.isdigit() or int(text) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(text)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _engine_missing(root: str) -> str | None:
    for rel in (os.path.join(ENGINE, "registry.py"), os.path.join("tests", "oracle_utils.py")):
        if not os.path.isfile(os.path.join(root, rel)):
            return rel
    return None


def _source_digest(root: str) -> str:
    """sha1 over the engine's source files, for checkouts without git."""
    import hashlib

    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, ENGINE)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _commit(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _launch_env(root: str, work: str, trace: bool) -> dict[str, str]:
    """Point every scratch location of the engine, Spark and its Python
    workers into ``work``, and let the workers import the engine from
    ``root``; turn on the uncompressed event log when tracing. Must run
    before pyspark starts the JVM."""
    dirs = {k: os.path.join(work, k) for k in ("data", "scratch", "local", "tmp", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_SCRATCH_BASE"] = dirs["scratch"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (root, os.environ.get("PYTHONPATH"))))
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.sql.warehouse.dir": dirs["warehouse"],
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            "spark.eventLog.compress": "false",
        })
    args = [x for k, v in confs.items() for x in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args) + " pyspark-shell"
    return dirs


def _materialize(spark, fn, data_dir: str) -> tuple[float, float]:
    """Build one query's plan and run it to completion through the noop sink;
    return (build seconds, action seconds)."""
    t0 = time.perf_counter()
    df = fn(spark, data_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def _geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def _stop_processes(spark) -> None:
    """Stop the session, the JVM and every Python worker, and wait for them."""
    pids = procfs.descendants()
    if spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()  # the JVM gateway exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            continue
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline + 10:
            time.sleep(0.05)


def _reap_dead_runs(base: str) -> None:
    """Remove work dirs left by runs that were killed outright."""
    try:
        names = os.listdir(base)
    except FileNotFoundError:
        return
    for name in names:
        pid = name.removeprefix("run_")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


class Run:
    """One benchmark run: set-up, warm-up and checks, timed passes."""

    def __init__(self, args, dirs: dict[str, str], cores: int):
        self.args, self.dirs, self.cores = args, dirs, cores
        self.wl = WORKLOADS[args.workload]
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.phase: dict[str, float] = {}
        self.first_call_s: dict[str, float] = {}
        self.first_build_s: dict[str, float] = {}

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def setup(self) -> None:
        import datagen

        t = time.perf_counter()
        datagen.generate(self.dirs["data"], self.wl.sf, self.args.seed)
        self.phase["datagen_s"] = time.perf_counter() - t
        if self.args.trace:
            import tracing

            self.tracer = tracing.Tracer(self.dirs)  # wraps before the registry import
        from etl_pipeline_old_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cores)
        self.phase["session_s"] = time.perf_counter() - t
        from etl_pipeline_old_spark import registry

        t = time.perf_counter()
        registry.all_queries()
        self.phase["registry_s"] = time.perf_counter() - t
        self.queries = {q: registry.QUERIES[q] for q in self.wl.queries}

    def warm_and_check(self) -> set[str]:
        """The first call of each query, checked against its DuckDB oracle.
        This call pays fixture staging and code generation; returns the
        queries whose result matched."""
        from tests.oracle_utils import duckdb_conn

        from check import check_query

        con = duckdb_conn(self.dirs["data"])
        good = set()
        for name, q in self.queries.items():
            self.attempted += 1
            t = time.perf_counter()
            try:
                frame = q.fn(self.spark, self.dirs["data"])
            except Exception as exc:
                ok, detail = False, f"{type(exc).__name__}: {exc}"
            else:
                self.first_build_s[name] = time.perf_counter() - t
                ok, detail = check_query(frame, con, q.oracle)
            self.first_call_s[name] = time.perf_counter() - t
            if ok:
                good.add(name)
            else:
                self._fail(f"{name} check: {detail}")
        con.close()
        return good

    def _pass(self, names: list[str], traced: bool, lat: dict[str, list[float]] | None) -> None:
        for name in names:
            self.attempted += 1
            t = time.perf_counter()
            try:
                if traced:
                    self.tracer.run_query(name, self.queries[name].fn, self.spark, self.dirs["data"])
                else:
                    _materialize(self.spark, self.queries[name].fn, self.dirs["data"])
            except Exception as exc:
                self._fail(f"{name}: {type(exc).__name__}: {exc}")
                continue
            if lat is not None:
                lat[name].append(time.perf_counter() - t)

    def warm(self, good: set[str]) -> None:
        for _ in range(self.wl.warm_passes):
            self._pass([q for q in self.queries if q in good], False, None)

    def timed(self, good: set[str]) -> dict:
        lat: dict[str, list[float]] = {q: [] for q in self.queries if q in good}
        n = self.wl.timed_passes(self.args.seconds)
        if self.tracer is not None:
            n += n % 2  # as many traced passes as untraced ones
        walls, cpus = [], []
        steal0 = procfs.host_steal_s()
        t0 = time.perf_counter()
        for i in range(n):
            traced = self.tracer is not None and self.tracer.next_pass(i)
            c0, p0 = procfs.tree_cpu_s(), time.perf_counter()
            self._pass(list(lat), traced, lat)
            walls.append(time.perf_counter() - p0)
            cpus.append(procfs.tree_cpu_s() - c0)
            if self.tracer is not None:
                self.tracer.end_pass(traced, walls[-1])
        return {
            "lat": lat,
            "walls": walls,
            "cpus": cpus,
            "timed_s": time.perf_counter() - t0,
            "steal_s": procfs.host_steal_s() - steal0,
            "peak_rss_mb": procfs.peak_rss_mb(),
        }

    def end_to_end(self, setup_s: float, t: dict) -> dict:
        medians = [statistics.median(xs) for xs in t["lat"].values() if xs]
        m = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(t["walls"]), "s"),
            "query_geomean_s": (_geomean(medians) if medians else 0.0, "s"),
            "cpu_s": (statistics.median(t["cpus"]), "s"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    missing = _engine_missing(root)
    if missing:
        print(f"perfbench: {missing} not found; run from the root of a checkout", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    try:
        cores = core_count()
    except ValueError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # SIGTERM unwinds like an exception, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _reap_dead_runs(os.path.join(root, ".perfbench_work"))
    work = os.path.join(root, ".perfbench_work", f"run_{os.getpid()}")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": _commit(root),
        "source_sha1": _source_digest(root),
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cores,
        "loadavg_start": procfs.loadavg(),
    }
    run = None
    try:
        dirs = _launch_env(root, work, bool(args.trace))
        run = Run(args, dirs, cores)
        record["sf"] = run.wl.sf
        run.setup()
        record["parallelism"] = run.spark.sparkContext.defaultParallelism
        good = run.warm_and_check()
        run.warm(good)
        setup_s = procfs.seconds_since_process_start()
        timed = run.timed(good)
        if args.trace:
            import kernels

            run.attempted += 1
            kernel_s, mismatches = kernels.time_kernels(args.seed)
            if mismatches:
                run._fail("; ".join(mismatches))
        else:
            metrics = run.end_to_end(setup_s, timed)
        _stop_processes(run.spark)
        run.spark = None
        if args.trace:
            metrics = run.tracer.per_layer(run, timed, kernel_s)  # reads the finished event log
    finally:
        try:
            _stop_processes(run.spark if run else None)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run is still using it
    record.update(
        loadavg_end=procfs.loadavg(),
        passes=len(timed["walls"]),
        pass_wall_s=timed["walls"],
        pass_cpu_s=timed["cpus"],
        query_s=timed["lat"],
        peak_rss_mb=timed["peak_rss_mb"],
        query_samples=sum(len(x) for x in timed["lat"].values()),
        timed_s=timed["timed_s"],
        host_steal_s=timed["steal_s"],
        phases=run.phase,
        first_call_s=run.first_call_s,
        problems=run.problems,
    )
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": run.failed == 0 and len(good) == len(run.queries),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
