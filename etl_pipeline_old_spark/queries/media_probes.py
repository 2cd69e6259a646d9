"""Next-gen image container probes (AVIF / HEIC over ISO-BMFF).

Full AV1/HEVC payload decode genuinely needs external codec libraries
and stays the documented seam (operators/multimodal.py posture), but a
100 TB crawl pipeline filters, routes, and audits these files long
before any codec runs — by brand, dimensions, alpha presence, EXIF
presence.  That probe is pure container work over the same box walk
mp4.py already does (ISO/IEC 23008-12 meta/iprp/ipco/ispe/auxC/iinf),
so it is implemented for real; see operators/mp4.py
``probe_image_bmff``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.files import read_blobs, stage_doc_files

_BRANDS = ("avif", "heic", "mif1", "avis")


def _render_bmff_image(doc_id: int, text: str) -> bytes:
    from ..operators.mp4 import encode_image_bmff

    return encode_image_bmff(
        16 + doc_id % 64,
        9 + doc_id % 37,
        brand=_BRANDS[doc_id % 4],
        alpha=doc_id % 2 == 1,
        exif=doc_id % 3 == 0,
    )


@register(
    "multimodal_avif_probe",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'avif' WHEN 1 THEN 'heic'
                WHEN 2 THEN 'heif' ELSE 'avif-sequence' END AS brand,
           CAST(16 + doc_id % 64 AS INT) AS width,
           CAST(9 + doc_id % 37 AS INT) AS height,
           (doc_id % 2 = 1) AS has_alpha,
           (doc_id % 3 = 0) AS has_exif
    FROM documents
    """,
    doc="AVIF/HEIC probe (operators/mp4.py probe_image_bmff, ISO/IEC "
    "23008-12 over the existing BMFF box walk — r12 verdict #7): the "
    "staged corpus cycles all four image brands (avif/heic/mif1/avis; "
    "a NON-image brand like mp42 refuses loudly, unit-tested), and "
    "the probe walks meta (a FullBox — the 4-byte version skip is "
    "exactly what naive walkers miss) -> iprp/ipco for the ispe "
    "spatial extents and the alpha auxC urn, and iinf for an Exif "
    "item. Width/height/alpha/EXIF all oracle-recomputed from the "
    "staging formulas; the coded payload is never touched — AV1/HEVC "
    "decode stays the documented seam, exactly the mp4 posture. "
    "Scale: the standard binaryFile + Arrow-kernel probe, bytes read "
    "are the meta box only in spirit (the probe is O(header), not "
    "O(payload)).",
)
def multimodal_avif_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "bmff_image_files", "avif", _render_bmff_image
    )
    bf = (
        read_blobs(spark, path, "avif")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.avif$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ..operators.mp4 import probe_image_bmff

        for b in batches:
            out = {"doc_id": [], "brand": [], "width": [], "height": [],
                   "has_alpha": [], "has_exif": []}
            for doc_id, content in zip(b["doc_id"], b["content"]):
                p = probe_image_bmff(bytes(content))
                out["doc_id"].append(int(doc_id))
                for k in ("brand", "width", "height", "has_alpha",
                          "has_exif"):
                    out[k].append(p[k])
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, brand string, width int, height int, "
        "has_alpha boolean, has_exif boolean",
    )
