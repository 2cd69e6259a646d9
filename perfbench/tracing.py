"""The traced run: spans around the engine's layers and Spark's own metrics.

Spans are recorded in memory, from the benchmark's side of each call, and
summarized when the run ends:

- ``catalog.load_table``, ``plans.orchestrator.run_pipeline``, each
  ``plans.orchestrator.DATASETS`` builder and the orchestrator's
  ``full_refresh`` sink call are wrapped before the query registry is
  imported (query modules bind ``load_table`` at import);
- every py4j round trip is counted at
  ``py4j.clientserver.ClientServerConnection.send_command``, except the
  object-release messages py4j sends when Python's garbage collector frees
  a Java reference: their number follows the collector's timing;
- each query execution of a traced pass runs under its own Spark job group
  (``statusTracker`` reports the jobs that kept it) and inside a span;
  jobs, stages and tasks in Spark's event log are attributed to the span
  in which they were submitted, which also catches jobs that thread pools
  submit without the group.

Traced and untraced passes alternate in one process. The tracing overhead
is the median traced pass wall minus the median untraced pass wall; the
event log is on for both, so its own cost is not in that difference.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time

MIB = 1024.0 * 1024.0
_RELEASE = "m\nd\n"  # py4j's memory-delete command

# Spark 4.1 SQL metrics of the Python-worker operators (times in ms)
_PYWORKER_ACCUMS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "returned_b",
}


def _tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Hadoop's ``.crc`` and ``_SUCCESS``
    markers are not data files."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class Tracer:
    def __init__(self, dirs: dict[str, str]):
        self.dirs = dirs
        self.enabled = False
        self.lock = threading.Lock()
        self.spans: list[tuple[str, float, float]] = []  # (kind, start, end), epoch s
        self.py4j_calls = 0
        self.sink_files = 0
        self.sink_bytes = 0
        self.jobs_in_group = 0
        self.query_spans: list[tuple[float, float]] = []
        self.build_s = 0.0
        self.action_s = 0.0
        self.build_by_query: dict[str, list[float]] = {}
        self.traced_walls: list[float] = []
        self.plain_walls: list[float] = []
        self._install()

    # -- wrappers -------------------------------------------------------
    def _span(self, kind: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                with self.lock:
                    self.spans.append((kind, t0, time.time()))

        return wrapped

    def _install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        import etl_pipeline_old_spark.catalog as catalog

        catalog.load_table = self._span("catalog", catalog.load_table)

        import etl_pipeline_old_spark.plans.orchestrator as orch

        orch.run_pipeline = self._span("run_pipeline", orch.run_pipeline)
        for name, builder in list(orch.DATASETS.items()):
            orch.DATASETS[name] = self._span("dataset", builder)
        full_refresh = orch.full_refresh

        def measured_refresh(df, path):
            full_refresh(df, path)
            if self.enabled:
                files, size = _tree_bytes(path)
                with self.lock:
                    self.sink_files += files
                    self.sink_bytes += size

        orch.full_refresh = self._span("sink", measured_refresh)

        send = ClientServerConnection.send_command

        def counted_send(conn, command):
            if self.enabled and not command.startswith(_RELEASE):
                with self.lock:
                    self.py4j_calls += 1
            return send(conn, command)

        ClientServerConnection.send_command = counted_send

    # -- passes ---------------------------------------------------------
    def next_pass(self, index: int) -> bool:
        """Odd passes are traced, even ones are not."""
        return index % 2 == 1

    def end_pass(self, traced: bool, wall: float) -> None:
        (self.traced_walls if traced else self.plain_walls).append(wall)

    def run_query(self, name: str, fn, spark, data_dir: str) -> None:
        sc = spark.sparkContext
        group = f"perfbench-{len(self.query_spans)}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        self.enabled = True
        try:
            b0 = time.perf_counter()
            df = fn(spark, data_dir)
            b1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            b2 = time.perf_counter()
        finally:
            self.enabled = False
            self.query_spans.append((t0, time.time()))
        self.build_s += b1 - b0
        self.action_s += b2 - b1
        self.build_by_query.setdefault(name, []).append(b1 - b0)
        self.jobs_in_group += len(sc.statusTracker().getJobIdsForGroup(group))

    # -- summary --------------------------------------------------------
    def _span_total(self, kind: str) -> float:
        return sum(e - s for k, s, e in self.spans if k == kind)

    def _span_count(self, kind: str) -> int:
        return sum(k == kind for k, _, _ in self.spans)

    def _event_log(self) -> dict:
        """Jobs, stages and task metrics submitted inside traced query spans."""
        windows = sorted((int(s * 1000), int(e * 1000) + 1) for s, e in self.query_spans)

        def inside(ms: int) -> bool:
            return any(s <= ms <= e for s, e in windows)

        acc = dict.fromkeys(
            ("jobs", "stages", "tasks", "deser_ms", "run_ms_exec", "cpu_ns", "gc_ms",
             "shuffle_read_b", "shuffle_write_b", *_PYWORKER_ACCUMS.values()), 0
        )
        paths = sorted(glob.glob(os.path.join(self.dirs["events"], "*", "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        for path in paths:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        acc["jobs"] += inside(ev["Submission Time"])
                    elif kind == "SparkListenerStageCompleted":
                        acc["stages"] += inside(ev["Stage Info"].get("Submission Time", -1))
                    elif kind == "SparkListenerTaskEnd":
                        info = ev["Task Info"]
                        if not inside(info["Launch Time"]):
                            continue
                        acc["tasks"] += 1
                        m = ev.get("Task Metrics") or {}
                        acc["deser_ms"] += m.get("Executor Deserialize Time", 0)
                        acc["run_ms_exec"] += m.get("Executor Run Time", 0)
                        acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                        acc["gc_ms"] += m.get("JVM GC Time", 0)
                        rd = m.get("Shuffle Read Metrics", {})
                        acc["shuffle_read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        acc["shuffle_write_b"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        for a in info.get("Accumulables", ()):
                            key = _PYWORKER_ACCUMS.get(a.get("Name"))
                            if key is not None:
                                acc[key] += int(a.get("Update", 0))
        return acc

    def per_layer(self, run, timed: dict, kernels: dict[str, float]) -> dict:
        """Every per-layer metric, per traced pass. Call after the session
        has stopped, so the event log is complete."""
        n = len(self.traced_walls)
        ev = self._event_log()
        run_pipeline_s = self._span_total("run_pipeline")
        busy = self._span_total("dataset") + self._span_total("sink")
        staging = sum(
            max(0.0, run.first_build_s[q] - statistics.median(xs))
            for q, xs in self.build_by_query.items()
            if q in run.first_build_s
        )
        _, scratch_bytes = _tree_bytes(self.dirs["scratch"])
        exec_run_s = ev["run_ms_exec"] / 1000
        deser_s = ev["deser_ms"] / 1000
        m = {
            "session.start_s": (run.phase["session_s"], "s"),
            "registry.load_s": (run.phase["registry_s"], "s"),
            "workdir.staging_s": (staging, "s"),
            "workdir.scratch_mb": (scratch_bytes / MIB, "MiB"),
            "catalog.load_calls": (self._span_count("catalog") / n, "count"),
            "catalog.load_s": (self._span_total("catalog") / n, "s"),
            "queries.build_s": (self.build_s / n, "s"),
            "queries.action_s": (self.action_s / n, "s"),
            "queries.p50_s": (statistics.median(x for xs in timed["lat"].values() for x in xs), "s"),
            "driver.py4j_calls": (self.py4j_calls / n, "count"),
            "plans.run_pipeline_s": (run_pipeline_s / n, "s"),
            "plans.overlap_ratio": (busy / run_pipeline_s if run_pipeline_s else 0.0, "ratio"),
            "sinks.write_s": (self._span_total("sink") / n, "s"),
            "sinks.written_mb": (self.sink_bytes / MIB / n, "MiB"),
            "sinks.files": (self.sink_files / n, "count"),
            "scheduler.jobs": (ev["jobs"] / n, "count"),
            "scheduler.jobs_in_group": (self.jobs_in_group / n, "count"),
            "scheduler.stages": (ev["stages"] / n, "count"),
            "scheduler.tasks": (ev["tasks"] / n, "count"),
            "scheduler.deser_s": (deser_s / n, "s"),
            "scheduler.deser_share": (deser_s / (deser_s + exec_run_s) if exec_run_s else 0.0, "ratio"),
            "executor.run_s": (exec_run_s / n, "s"),
            "executor.cpu_s": (ev["cpu_ns"] / 1e9 / n, "s"),
            "executor.cpu_share": (ev["cpu_ns"] / 1e9 / exec_run_s if exec_run_s else 0.0, "ratio"),
            "executor.gc_s": (ev["gc_ms"] / 1000 / n, "s"),
            "executor.shuffle_read_mb": (ev["shuffle_read_b"] / MIB / n, "MiB"),
            "executor.shuffle_write_mb": (ev["shuffle_write_b"] / MIB / n, "MiB"),
            "pyworker.start_s": (ev["start_ms"] / 1000 / n, "s"),
            "pyworker.init_s": (ev["init_ms"] / 1000 / n, "s"),
            "pyworker.run_s": (ev["run_ms"] / 1000 / n, "s"),
            "pyworker.init_share": (ev["init_ms"] / ev["run_ms"] if ev["run_ms"] else 0.0, "ratio"),
            "pyworker.sent_mb": (ev["sent_b"] / MIB / n, "MiB"),
            "pyworker.returned_mb": (ev["returned_b"] / MIB / n, "MiB"),
            "memory.peak_rss_mb": (timed["peak_rss_mb"], "MiB"),
            "trace.wall_s": (statistics.median(self.traced_walls), "s"),
            "trace.overhead_s": (
                statistics.median(self.traced_walls) - statistics.median(self.plain_walls), "s"
            ),
            "run.failed_ratio": (run.failed / run.attempted, "ratio"),
        }
        m.update({k: (v, "s") for k, v in kernels.items()})
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
