"""CDX range-read vs full-archive walk (r13 verdict #2's 'probe ≪
full-walk' evidence).

The claim behind web_cdx_range_ingest: touching N specific captures in
a web archive should cost ~N member reads driven by the CDX sidecar,
not a decompression pass over the archives.  This probe stages the
sf0.1 CDX corpus (one gzip member per capture + CDXJ sidecars), picks
one target capture per shard, and times two plans that produce the
SAME rows:

- ``cdx probe``  — the production path: scan ONLY the .cdx.gz
  sidecars, filter to the targets relationally, range-read one member
  per row.
- ``full walk``  — the naive path: binaryFile over the .warc.gz blobs,
  every member of every shard decompressed, targets filtered after
  the fact.

Reported: wall seconds (median of 3 after a warmup) and the bytes each
plan touches.  Writes the ``<!-- cdx-range:begin -->`` block of
SCALE_PROBE.md.  Run standalone and idle, never concurrently with
bench runs.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MARK_START = "<!-- cdx-range:begin -->"
MARK_END = "<!-- cdx-range:end -->"

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _upsert_block(block: str) -> None:
    path = "SCALE_PROBE.md"
    text = open(path, encoding="utf-8").read() if os.path.exists(path) else ""
    if MARK_START in text and MARK_END in text:
        pre = text[: text.index(MARK_START)]
        post = text[text.index(MARK_END) + len(MARK_END) :]
        text = pre + MARK_START + "\n" + block + "\n" + MARK_END + post
    else:
        text = (text.rstrip("\n") + "\n\n" + MARK_START + "\n" + block
                + "\n" + MARK_END + "\n")
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def main() -> None:
    from pyspark.sql import functions as F

    from etl_pipeline_old_spark.queries.web_cdx import (
        _cdx_ranges,
        _stage_cdx_warc,
    )
    from etl_pipeline_old_spark.session import get_spark

    spark = get_spark("cdx-range-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # CC-realistic capture sizes: bodies inflated 256x (~60-120 KB/page)
    path = _stage_cdx_warc(spark, SF_DIR, body_repeat=256, kind="cdx_warc_probe")
    # one target per shard: capture 17 of each 100-doc part
    target_pred = (F.col("doc_id") % 100) == 17

    def cdx_probe():
        ranges = _cdx_ranges(spark, path).where(target_pred)

        def fetch(batches):
            import pandas as pd

            from etl_pipeline_old_spark.operators.warc import (
                iter_warc_responses,
            )

            for pdf in batches:
                out = {"doc_id": [], "n_chars": []}
                for did, ap, off, ln in zip(
                    pdf["doc_id"], pdf["archive_path"], pdf["offset"],
                    pdf["length"],
                ):
                    with open(ap.replace("file:", ""), "rb") as fh:
                        fh.seek(int(off))
                        member = fh.read(int(ln))
                    (_uri, _st, body), = iter_warc_responses(member)
                    out["doc_id"].append(int(did))
                    out["n_chars"].append(len(body))
                yield pd.DataFrame(out)

        return ranges.mapInPandas(
            fetch, schema="doc_id long, n_chars long"
        )

    def full_walk():
        blobs = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc.gz")
            .load(path)
            .select("content")
        )

        def walk(batches):
            import pandas as pd

            from etl_pipeline_old_spark.operators.warc import (
                iter_warc_responses_lenient,
            )

            for pdf in batches:
                out = {"doc_id": [], "n_chars": []}
                for blob in pdf["content"]:
                    for uri, _st, body, err in iter_warc_responses_lenient(
                        bytes(blob)
                    ):
                        if err is not None or "/doc/" not in uri:
                            continue
                        did = int(uri.rsplit("/", 1)[1])
                        if did % 100 == 17:
                            out["doc_id"].append(did)
                            out["n_chars"].append(len(body))
                yield pd.DataFrame(out)

        return blobs.mapInPandas(walk, schema="doc_id long, n_chars long")

    # bytes each plan touches
    import glob

    warc_bytes = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.warc.gz"))
    )
    cdx_bytes = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.cdx.gz"))
    )
    ranged = _cdx_ranges(spark, path).where(target_pred)
    member_bytes = ranged.agg(F.sum("length")).collect()[0][0]
    n_targets = ranged.count()

    def timed(make):
        runs = []
        baseline = sorted(map(tuple, make().collect()))
        for _ in range(3):
            t0 = time.monotonic()
            got = sorted(map(tuple, make().collect()))
            runs.append(time.monotonic() - t0)
            assert got == baseline
        return statistics.median(runs), baseline

    _w0, rows_probe = timed(cdx_probe)   # warmup interleaved below
    t_probe, rows_probe = timed(cdx_probe)
    t_walk, rows_walk = timed(full_walk)
    assert rows_probe == rows_walk, "plans disagree"

    probe_touch = cdx_bytes + int(member_bytes)
    block = "\n".join(
        [
            "## CDX range reads vs full-archive walk (r14)",
            "",
            f"sf0.1 staged corpus: {warc_bytes/1e6:.1f} MB of .warc.gz "
            f"across {len(glob.glob(os.path.join(path, '*.warc.gz')))} "
            f"shards, {cdx_bytes/1e3:.1f} KB of .cdx.gz sidecars; "
            f"targets = {n_targets} captures (one per shard).",
            "",
            "| plan | wall (median of 3) | bytes touched |",
            "|---|---|---|",
            f"| CDX probe (sidecar scan + range reads) | {t_probe:.2f}s "
            f"| {probe_touch/1e3:.1f} KB |",
            f"| full walk (every member decompressed) | {t_walk:.2f}s "
            f"| {warc_bytes/1e6:.1f} MB |",
            "",
            f"Probe touches {probe_touch/warc_bytes*100:.2f}% of the "
            f"archive bytes and runs {t_walk/t_probe:.1f}x faster at "
            "sf0.1; the byte ratio, not the wall ratio, is the 100 TB "
            "number — the walk grows with the archive, the probe with "
            "the target list.",
        ]
    )
    _upsert_block(block)
    print(block)


if __name__ == "__main__":
    main()
