"""The benchmark's workloads: which registry queries run, at which scale.

Each workload is one closed-loop client running its query list pass after
pass. Names are stable; other documents cite them.

``warm_passes`` untimed passes follow the checked first calls, because the
JVM's JIT keeps speeding up the plan-building code for several passes: on
``etl_batch`` a pass's CPU falls from about 20 s to 12 s over its first five
passes. ``pass_s`` is a pass's wall time on a 4-core host at the parent
commit. It turns ``--seconds`` into a fixed number of timed passes, so that
every run, of any commit, measures the same passes. A run bounded by time
instead would make more passes on faster code, further along the warm-up
curve, and overstate its gain.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    why: str
    warm_passes: int
    pass_s: float

    def timed_passes(self, seconds: float) -> int:
        """Timed passes for a run of about ``seconds``: at least three."""
        return max(3, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_batch",
            0.01,
            (
                "pipeline_scripts",
                "pipeline_projectsync",
                "pipeline_gitlab_lines",
                "pipeline_yougile",
                "pipeline_logs",
                "run_full_pipeline",
            ),
            "the paper's own surface (run.py plus the five notebooks); "
            "driver plan build and job scheduling, parquet sink writes, "
            "no Python workers",
            warm_passes=2,
            pass_s=5.5,
        ),
        Workload(
            "media_ingest",
            0.01,
            (
                "pipeline_pdf_aes_extract",
                "multimodal_webp_lossless_ingest",
                "pipeline_docx_extract",
                "multimodal_png_ingest",
            ),
            "CPU-bound in Python workers running the operators kernels; "
            "tiny plans, fixture staging in set-up",
            warm_passes=0,
            pass_s=6.7,
        ),
        Workload(
            "iterative_dedup",
            0.01,
            ("dedup_clusters", "graph_pagerank", "dedup_minhash_lsh"),
            "bound by the scheduler and the driver: many small jobs, eager "
            "checkpoints inside plan build",
            warm_passes=1,
            pass_s=10.0,
        ),
    )
}
