"""Cross-modal (image, text) pair extraction — the LAION-shape capstone.

Real web-scale image-text corpora (LAION, DataComp) are built by one
pipeline shape: crawl shards hold HTML pages *and* the image payloads
those pages embed; the pages yield (caption, image URI) candidates from
``<img src alt>`` tags, the image responses are decoded and perceptually
hashed, the two sides join on URI, near-identical images collapse to a
canonical representative, and per-(language, format) statistics describe
the resulting pair corpus. The reference engine has no cross-modal
composition at all (its transforms stop at tabular joins —
reference transform notebooks cover joins/aggregations only), so this
family is beyond-reference by design, composing the verified WARC
container walk (operators/warc.py), four real lossless image codecs
(PNG/GIF/BMP/TIFF), the JVM regexp HTML mining of queries/web_corpus.py,
and the aHash dedup of queries/extras6.py into one plan.

Scale shape (the 100 TB posture), stated per side because the pool is
NOT a dimension at every scale: page mining is a map-only explode over
shard blobs; the image side is map + one distinct. At demo/enterprise
scale (a pool that fits an executor heap — up to tens of millions of
hash rows) `pipeline_image_text_pairs` broadcasts the pool and the
canonical table, so the big page side never shuffles. At LAION/DataComp
scale the unique-image pool grows LINEARLY with the crawl (billions of
rows — the same order as the page corpus), so broadcasting it would OOM
every executor; `pipeline_image_text_pairs_bucketed` is the shape that
survives there: the page side collapses first to (lang, uri) bronze
(one partial-agg shuffle of the big side — its ONLY shuffle), the pool
is written once as a URI-bucketed sorted table, the bronze-pool join
reads the bucketed scan with ZERO Exchange on the pool side, and the
canonical representative comes from a groupBy(ahash) min-URI aggregate
joined shuffle-side — nothing is ever broadcast. Python appears only
inside the Arrow parse/decode kernels in both variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.files import BINARYFILE_SCHEMA, read_blobs, stage_shard_files
from ..workdir import reap_warehouse, run_dir, table_name, write_atomic
from .web_corpus import _warc_uri

# The shared image pool: pages reference 1 + doc_id % 2 images, image k
# of page doc_id is pool slot (doc_id + 7k) % _IMG_POOL — many pages
# embed the same image, like the real web. Slot iid's pixel content is
# md5_pixels('im' + iid % _IMG_CONTENT_MOD), so pairs of slots (iid,
# iid+20) are pixel-identical under DIFFERENT URIs — the case URL-level
# dedup cannot catch and perceptual-hash dedup exists for. Format cycles
# through the four lossless codecs (lossless so the decoded raster — and
# hence the aHash — is exactly the md5 formula the DuckDB oracle
# recomputes; JPEG's error bound could flip hash bits near the mean, so
# the lossy codec stays in its own error-bound ingest).  Slot iid % 13
# == 5 is a dead link: staged as an HTTP 404, so those candidates must
# drop out of the pair corpus.
_IMG_POOL = 40
_IMG_CONTENT_MOD = 20
_IMG_EXTS = ("png", "gif", "bmp", "tiff")
_IMG_URI_PREFIX = "https://img.example.com/im/"


def _img_uri(iid: int) -> str:
    return f"{_IMG_URI_PREFIX}{iid}.{_IMG_EXTS[iid % 4]}"


def _render_pool_image(iid: int) -> bytes:
    from ..operators.gif_bmp import encode_bmp, encode_gif
    from ..operators.multimodal import encode_png, md5_pixels
    from ..operators.tiff import encode_tiff

    gray = md5_pixels(f"im{iid % _IMG_CONTENT_MOD}", 64)
    enc = (encode_png, encode_gif, encode_bmp, encode_tiff)[iid % 4]
    return enc(gray, 8, 8)


def _render_pool_image_near(iid: int) -> bytes:
    """The near-dup pool variant: slots >= _IMG_CONTENT_MOD share their
    twin's pixels EXCEPT one strongly perturbed pixel — the
    re-encoded/retouched-copy case exact-hash dedup cannot catch (small
    Hamming distance, different bytes, different URI)."""
    from ..operators.gif_bmp import encode_bmp, encode_gif
    from ..operators.multimodal import encode_png, md5_pixels
    from ..operators.tiff import encode_tiff

    gray = md5_pixels(f"im{iid % _IMG_CONTENT_MOD}", 64)
    if iid >= _IMG_CONTENT_MOD:
        j = iid % 64
        gray[j] = (gray[j] + 96) % 256
    enc = (encode_png, encode_gif, encode_bmp, encode_tiff)[iid % 4]
    return enc(gray, 8, 8)


def _wrap_pair_page(doc_id: int, text: str, lang: str) -> bytes:
    """An HTML page embedding its images: <html lang> attribute, body
    text, and one <img src alt> per referenced pool slot — alt text is
    the first 3 + doc_id % 4 words of the document plus a ' #k' figure
    suffix, the caption the miner must recover."""
    toks = text.split(" ")
    imgs = "".join(
        '<img src="{src}" alt="{alt} #{k}">'.format(
            src=_img_uri((doc_id + 7 * k) % _IMG_POOL),
            alt=" ".join(toks[: 3 + doc_id % 4]),
            k=k,
        )
        for k in range(1 + doc_id % 2)
    )
    return (
        f'<html lang="{lang}"><head><title>doc {doc_id}</title></head>'
        f'<body><p>{text.replace(" ", "&nbsp;")}</p>{imgs}</body></html>'
    ).encode("utf-8")


def _build_pair_shard(pdf, sid: int, render_pool=_render_pool_image) -> bytes:
    from ..operators.warc import encode_warc_shard

    recs: list[tuple] = []
    iids: set[int] = set()
    for r in pdf.itertuples():
        did = int(r.doc_id)
        recs.append(
            (_warc_uri(r.source, did), _wrap_pair_page(did, r.text, r.lang), 200)
        )
        for k in range(1 + did % 2):
            iids.add((did + 7 * k) % _IMG_POOL)
    # each shard carries the image records its own pages reference (a
    # crawler fetches what it sees); the same slot recurs across shards
    # with byte-identical content, so the reader's distinct() collapses
    # the copies exactly like CC's URL-level dedup would
    for iid in sorted(iids):
        if iid % 13 == 5:
            recs.append((_img_uri(iid), b"<html>404 not found</html>", 404))
        else:
            recs.append(
                (
                    _img_uri(iid),
                    render_pool(iid),
                    200,
                    f"image/{_IMG_EXTS[iid % 4]}",
                )
            )
    return encode_warc_shard(recs, sid)


def _stage_pair_warc_shards(spark: SparkSession, sf_dir: str) -> str:
    return stage_shard_files(spark, sf_dir, "pair_warc_shards", _build_pair_shard)


def _stage_pair_near_shards(spark: SparkSession, sf_dir: str) -> str:
    def build(pdf, sid: int) -> bytes:
        return _build_pair_shard(pdf, sid, render_pool=_render_pool_image_near)

    return stage_shard_files(spark, sf_dir, "pair_near_warc_shards", build)


def _pair_pages_frame(bf: DataFrame) -> DataFrame:
    """Shard blobs -> (lang, img_uri, caption) candidates: the typed WARC
    walk keeps HTTP-200 text/html article records, then pure-JVM regexps
    mine the <img> tags (explode), src and alt per tag."""

    def op(batches):
        import pandas as pd

        from ..operators.warc import iter_warc_responses_typed

        for pdf in batches:
            out = {"html": []}
            for blob in pdf["content"]:
                for uri, status, ctype, body in iter_warc_responses_typed(
                    bytes(blob)
                ):
                    if ctype == "text/html" and status == 200 and "/articles/" in uri:
                        out["html"].append(body.decode("utf-8"))
            yield pd.DataFrame(out)

    pages = bf.mapInPandas(op, "html string")
    tags = F.regexp_extract_all(F.col("html"), F.lit("<img [^>]+>"), 0)
    return pages.select(
        F.regexp_extract("html", "<title>doc (\\d+)</title>", 1)
        .cast("long")
        .alias("doc_id"),
        F.regexp_extract("html", '<html lang="([a-z]+)"', 1).alias("lang"),
        F.posexplode(tags).alias("k", "tag"),
    ).select(
        "doc_id",
        "lang",
        "k",
        F.regexp_extract("tag", 'src="([^"]+)"', 1).alias("img_uri"),
        F.regexp_extract("tag", 'alt="([^"]*)"', 1).alias("caption"),
    )


def _pair_imgs_frame(bf: DataFrame) -> DataFrame:
    """Shard blobs -> the decoded image pool (uri, fmt, ahash): the typed
    walk keeps HTTP-200 image/* records, sniffs the container by magic
    bytes (NOT by URI extension — a stager writing the wrong bytes must
    fail the hash), runs the real pure-stdlib decode, and average-hashes
    the raster; distinct() collapses the cross-shard copies."""

    def op(batches):
        import pandas as pd

        from ..operators.gif_bmp import decode_bmp, decode_gif
        from ..operators.multimodal import _png_decode, ahash64
        from ..operators.tiff import decode_tiff
        from ..operators.warc import iter_warc_responses_typed

        def sniff(data: bytes):
            if data[:4] == b"\x89PNG":
                return "png", _png_decode
            if data[:4] in (b"GIF8",):
                return "gif", decode_gif
            if data[:2] == b"BM":
                return "bmp", decode_bmp
            if data[:4] in (b"II*\x00", b"MM\x00*"):
                return "tiff", decode_tiff
            raise ValueError(f"unknown image container: {data[:4]!r}")

        for pdf in batches:
            out = {"uri": [], "fmt": [], "ahash": []}
            for blob in pdf["content"]:
                for uri, status, ctype, body in iter_warc_responses_typed(
                    bytes(blob)
                ):
                    if status != 200 or not ctype.startswith("image/"):
                        continue
                    fmt, dec = sniff(bytes(body))
                    _w, _h, gray = dec(bytes(body))
                    out["uri"].append(uri)
                    out["fmt"].append(fmt)
                    out["ahash"].append(ahash64(gray))
            yield pd.DataFrame(out)

    return bf.mapInPandas(op, "uri string, fmt string, ahash string").distinct()


def _pairs_oracle() -> str:
    from ..operators.multimodal import md5_pixel_sql

    px_list = ", ".join(md5_pixel_sql(j, "img_txt") for j in range(64))
    return f"""
    WITH ks AS (
      SELECT doc_id, lang, text, 0 AS k FROM documents
      UNION ALL
      SELECT doc_id, lang, text, 1 AS k FROM documents WHERE doc_id % 2 = 1),
    refs AS (
      SELECT lang, (doc_id + 7*k) % {_IMG_POOL} AS iid,
             array_to_string(
               list_slice(string_split(text, ' '), 1, 3 + doc_id % 4), ' ')
               || ' #' || k AS caption
      FROM ks),
    live AS (
      SELECT DISTINCT iid,
             ['png','gif','bmp','tiff'][1 + iid % 4] AS fmt,
             'im' || (iid % {_IMG_CONTENT_MOD}) AS img_txt
      FROM refs WHERE iid % 13 != 5),
    px AS (SELECT iid, fmt, [{px_list}] AS p FROM live),
    h AS (
      SELECT iid, fmt,
             list_aggregate(
               list_transform(p, x -> CASE WHEN x > list_sum(p) / 64.0
                                           THEN '1' ELSE '0' END),
               'string_agg', '') AS ahash
      FROM px),
    imgs AS (
      SELECT iid, fmt, ahash,
             '{_IMG_URI_PREFIX}' || iid || '.' || fmt AS uri
      FROM h),
    canon AS (SELECT ahash, min(uri) AS canon_uri FROM imgs GROUP BY ahash),
    pairs AS (
      SELECT r.lang, i.fmt, i.uri, i.ahash, c.canon_uri, r.caption
      FROM refs r
      JOIN imgs i ON i.iid = r.iid
      JOIN canon c ON c.ahash = i.ahash)
    SELECT lang, fmt,
           count(*)::BIGINT AS n_pairs,
           count(DISTINCT uri)::BIGINT AS n_images,
           count(DISTINCT ahash)::BIGINT AS n_unique_images,
           sum(CASE WHEN uri = canon_uri THEN 1 ELSE 0 END)::BIGINT
             AS n_canonical_pairs,
           round(avg(len(string_split(caption, ' '))), 2) AS avg_caption_words
    FROM pairs GROUP BY lang, fmt
    """


@register(
    "pipeline_image_text_pairs",
    oracle=_pairs_oracle(),
    doc="The LAION-shape cross-modal capstone, crawl to (image, text) "
    "pair corpus in one plan: mixed-media .warc.gz shards (HTML article "
    "records beside image/* payload records, staged from the executors) "
    "are walked with the typed WARC reader; the page branch mines "
    "(lang, img src, alt caption) candidates with JVM regexps (explode "
    "over <img> tags); the image branch magic-sniffs the container, "
    "runs the REAL pure-stdlib PNG/GIF/BMP/TIFF decode, and "
    "average-hashes the raster; the two sides join on URI with the "
    "image pool BROADCAST (dims-sized next to the page corpus); "
    "pixel-identical images under different URIs collapse to a "
    "canonical min-URI representative via the aHash (the dedup "
    "URL-level matching cannot do); dead links (404 fetches) drop out "
    "in the join. Output: per-(lang, format) pair stats. The oracle "
    "recomputes everything — captions, pool membership, the aHash from "
    "the md5 pixel formula, canonical URIs — from the documents table "
    "alone, so a lossy decode, a wrong caption slice, or a missed 404 "
    "all fail the hash. 100 TB plan: two map-only passes over shard "
    "blobs, one tiny distinct, two broadcast joins, one 8-key groupBy "
    "— no cartesian, no big-side shuffle, Python only inside the Arrow "
    "parse/decode kernels.",
)
def pipeline_image_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_pair_warc_shards(spark, sf_dir)
    bf = read_blobs(spark, path, "warc.gz").select("content")
    return _pair_stats(_pair_pages_frame(bf), _pair_imgs_frame(bf))


def _pair_stats(pages: DataFrame, imgs: DataFrame) -> DataFrame:
    """Join + canonical-hash dedup + per-(lang, format) stats — shared by
    the batch capstone and its streaming counterpart."""
    # persist: the pool is consumed twice (join build side + canonical
    # table) and derives from a full shard scan + decode — without the
    # cache the decode kernel would run once per consumer, doubling the
    # most expensive stage at crawl scale
    imgs = imgs.persist()
    canon = imgs.groupBy("ahash").agg(F.min("uri").alias("canon_uri"))
    pairs = pages.join(
        F.broadcast(imgs), pages.img_uri == imgs.uri
    ).join(F.broadcast(canon), "ahash")
    return pairs.groupBy("lang", "fmt").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("uri").alias("n_images"),
        F.countDistinct("ahash").alias("n_unique_images"),
        F.sum((F.col("uri") == F.col("canon_uri")).cast("long")).alias(
            "n_canonical_pairs"
        ),
        F.round(F.avg(F.size(F.split("caption", " "))), 2).alias(
            "avg_caption_words"
        ),
    )


@register(
    "stream_image_text_pairs",
    oracle=_pairs_oracle(),
    doc="STREAMING counterpart of the cross-modal capstone: the same "
    "mixed-media .warc.gz shards are consumed through "
    "readStream.format('binaryFile') with maxFilesPerTrigger bounding "
    "each micro-batch, each batch runs the SAME page-mining and "
    "image-decode definitions (one parser for batch and streaming) and "
    "appends candidates and decoded images to two staging lakes; after "
    "the drain, distinct() absorbs the cross-batch image-record repeats "
    "and the SAME join/dedup/stats tail runs over the accumulated "
    "lakes — the result must hash-equal pipeline_image_text_pairs "
    "(identical oracle), which per-shard record independence makes "
    "exact under any batching. The 100 TB shape: a live crawl's pair "
    "corpus refreshes by appending per-trigger extractions, with the "
    "join + canonical table recomputed over the accumulated (tiny) "
    "image pool.",
)
def stream_image_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..session import ensure_session_confs

    ensure_session_confs(spark)
    feed = _stage_pair_warc_shards(spark, sf_dir)
    pages_t, imgs_t, chk = (
        run_dir(f"pair_stream_{part}", sf_dir) for part in ("pages", "imgs", "chk")
    )

    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.warc.gz")
        .option("maxFilesPerTrigger", 5)
        .load(feed)
        .select("content")
    )

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        _pair_pages_frame(batch_df).write.mode("append").parquet(pages_t)
        _pair_imgs_frame(batch_df).write.mode("append").parquet(imgs_t)

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pages = spark.read.parquet(pages_t)
    imgs = spark.read.parquet(imgs_t).distinct()
    return _pair_stats(pages, imgs)


# ---------------------------------------------------------------------------
# near-duplicate image pairs in the crawl (Hamming-banded aHash)

_NEAR_BANDS = 4
_NEAR_HAM_K = 3  # bands = K+1: pigeonhole-complete for Hamming <= K


def _near_px_sql(j: int) -> str:
    """Pixel j of a near-pool image in SQL: the md5 formula, with slot
    iid >= _IMG_CONTENT_MOD's pixel (iid % 64) perturbed by +96 mod 256
    — mirrors _render_pool_image_near exactly."""
    from ..operators.multimodal import md5_pixel_sql

    base = md5_pixel_sql(j, "img_txt")
    return (
        f"CASE WHEN iid >= {_IMG_CONTENT_MOD} AND iid % 64 = {j} "
        f"THEN ({base} + 96) % 256 ELSE {base} END"
    )


def _near_oracle() -> str:
    px_list = ", ".join(_near_px_sql(j) for j in range(64))
    return f"""
    WITH ks AS (
      SELECT doc_id, 0 AS k FROM documents
      UNION ALL
      SELECT doc_id, 1 AS k FROM documents WHERE doc_id % 2 = 1),
    refs AS (
      SELECT (doc_id + 7*k) % {_IMG_POOL} AS iid FROM ks),
    live AS (
      SELECT DISTINCT iid,
             ['png','gif','bmp','tiff'][1 + iid % 4] AS fmt,
             'im' || (iid % {_IMG_CONTENT_MOD}) AS img_txt
      FROM refs WHERE iid % 13 != 5),
    px AS (SELECT iid, fmt, [{px_list}] AS p FROM live),
    h AS (
      SELECT iid, fmt,
             list_aggregate(
               list_transform(p, x -> CASE WHEN x > list_sum(p) / 64.0
                                           THEN '1' ELSE '0' END),
               'string_agg', '') AS ahash
      FROM px),
    imgs AS (
      SELECT iid, ahash,
             '{_IMG_URI_PREFIX}' || iid || '.' || fmt AS uri
      FROM h),
    caps AS (
      SELECT iid, count(*)::BIGINT AS n_caps FROM refs GROUP BY iid),
    pairs AS (
      SELECT a.uri AS uri_a, b.uri AS uri_b,
             list_sum(list_transform(range(1, 65), i ->
               CASE WHEN substr(a.ahash, i::INTEGER, 1)
                         <> substr(b.ahash, i::INTEGER, 1)
                    THEN 1 ELSE 0 END))::BIGINT AS hamming,
             ca.n_caps AS n_captions_a, cb.n_caps AS n_captions_b
      FROM imgs a
      JOIN imgs b ON a.uri < b.uri
      JOIN caps ca ON ca.iid = a.iid
      JOIN caps cb ON cb.iid = b.iid)
    SELECT uri_a, uri_b, hamming, n_captions_a, n_captions_b
    FROM pairs WHERE hamming <= {_NEAR_HAM_K}
    """


@register(
    "image_text_near_dedup",
    oracle=_near_oracle(),
    doc="Near-duplicate image discovery INSIDE the pair-corpus crawl — "
    "the retouched/re-encoded-copy case URL dedup and exact-hash dedup "
    "both miss: a second mixed-media crawl is staged whose content "
    "twins differ by one strongly perturbed pixel (different bytes, "
    "different URI, small Hamming distance), images decode through the "
    "same magic-sniffed four-codec kernel, and the 64-bit aHash splits "
    f"into {_NEAR_BANDS} 16-bit bands — by pigeonhole any pair with "
    f"Hamming <= {_NEAR_HAM_K} shares an intact band, so the band "
    "bucket-join finds ALL such pairs without an n² comparison and an "
    "in-plan JVM fold verifies the exact distance. Each pair carries "
    "both sides' caption counts from the page-mining branch (what a "
    "LAION merge would consolidate). The oracle recomputes hashes from "
    "the md5 pixel formula + perturbation and brute-forces all pool "
    "pairs — equality proves the banding lost nothing. Scale: band "
    "rows shuffle, candidates verify; the pool is dims-sized beside "
    "the page corpus.",
)
def image_text_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_pair_near_shards(spark, sf_dir)
    bf = read_blobs(spark, path, "warc.gz").select("content")
    imgs = _pair_imgs_frame(bf)
    caps = _pair_pages_frame(bf).groupBy("img_uri").agg(
        F.count("*").alias("n_caps")
    )
    bands = imgs.select(
        "uri",
        "ahash",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, _NEAR_BANDS + 1)])
        ).alias("band_idx"),
    ).withColumn(
        "band", F.expr("substr(ahash, (band_idx - 1) * 16 + 1, 16)")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.uri") < F.col("b.uri")),
        )
        .select(
            F.col("a.uri").alias("uri_a"),
            F.col("b.uri").alias("uri_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    ham = cand.withColumn(
        "hamming",
        F.expr(
            "aggregate(sequence(1, 64), 0, (acc, i) -> "
            "acc + IF(substr(ha, i, 1) != substr(hb, i, 1), 1, 0))"
        ).cast("long"),
    ).filter(F.col("hamming") <= _NEAR_HAM_K)
    # caption counts join shuffle-side: caps is per-URI and grows with
    # the crawl (the same posture rule as the pool itself — never
    # broadcast a crawl-growing relation); the verified-pair side is
    # candidate-bounded, so the shuffle is tiny at every scale
    return (
        ham.join(
            caps.withColumnRenamed("img_uri", "uri_a").hint("merge"),
            "uri_a",
        )
        .withColumnRenamed("n_caps", "n_captions_a")
        .join(
            caps.select(
                F.col("img_uri").alias("uri_b"),
                F.col("n_caps").alias("n_captions_b"),
            ).hint("merge"),
            "uri_b",
        )
        .select("uri_a", "uri_b", "hamming", "n_captions_a", "n_captions_b")
    )


# ---------------------------------------------------------------------------
# per-record decode quarantine + incremental refresh for the pair corpus

_IMG_CORRUPT_MOD = 11  # alive slot iid % 11 == 2 -> header-corrupted payload


def _stage_pair_torn_shards(spark: SparkSession, sf_dir: str) -> str:
    """The pair crawl with some image payloads corrupted at the header
    (first two bytes overwritten) — the torn-upload case: the WARC
    record and gzip member stay intact, only the media decode fails."""

    def build(pdf, sid: int) -> bytes:
        def render(iid: int) -> bytes:
            data = _render_pool_image(iid)
            if iid % _IMG_CORRUPT_MOD == 2:
                return b"XX" + data[2:]
            return data

        return _build_pair_shard(pdf, sid, render_pool=render)

    return stage_shard_files(spark, sf_dir, "pair_torn_warc_shards", build)


def _quarantine_oracle() -> str:
    return f"""
    WITH ks AS (
      SELECT doc_id, 0 AS k FROM documents
      UNION ALL
      SELECT doc_id, 1 AS k FROM documents WHERE doc_id % 2 = 1),
    refs AS (
      SELECT (doc_id + 7*k) % {_IMG_POOL} AS iid FROM ks),
    live AS (
      SELECT iid, count(*)::BIGINT AS n_refs,
             ['png','gif','bmp','tiff'][1 + iid % 4] AS ext,
             CASE WHEN iid % {_IMG_CORRUPT_MOD} = 2 THEN 1 ELSE 0 END
               AS corrupt
      FROM refs WHERE iid % 13 != 5 GROUP BY iid)
    SELECT ext,
           sum(1 - corrupt)::BIGINT AS n_ok,
           sum(corrupt)::BIGINT AS n_corrupt,
           sum(CASE WHEN corrupt = 1 THEN n_refs ELSE 0 END)::BIGINT
             AS n_pairs_lost
    FROM live GROUP BY ext
    """


@register(
    "image_text_ingest_quarantine",
    oracle=_quarantine_oracle(),
    doc="Per-record decode quarantine for the mixed-media crawl — the "
    "cross-modal analogue of multimodal_ingest_quarantine and "
    "warc_ingest_quarantine: the pair crawl is staged with some image "
    "payloads header-corrupted (torn upload; the WARC framing and gzip "
    "member stay valid, only the media decode fails), the image kernel "
    "wraps sniff+decode per record and routes failures to a status "
    "instead of raising, and the output accounts per format (from the "
    "URI, since corrupt payloads carry no readable container): healthy "
    "pool slots, quarantined slots, and the page-image pairs LOST to "
    "the quarantine (what a re-fetch queue would restore). The oracle "
    "recomputes all three from the reference rules. At 100 TB one "
    "corrupt image must cost its own pairs, never the ingest job.",
)
def image_text_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_pair_torn_shards(spark, sf_dir)
    bf = read_blobs(spark, path, "warc.gz").select("content")

    def op(batches):
        import pandas as pd

        from ..operators.gif_bmp import decode_bmp, decode_gif
        from ..operators.multimodal import _png_decode, ahash64
        from ..operators.tiff import decode_tiff
        from ..operators.warc import iter_warc_responses_typed

        decoders = {
            b"\x89PNG": _png_decode,
            b"GIF8": decode_gif,
            b"II*\x00": decode_tiff,
            b"MM\x00*": decode_tiff,
        }

        def try_decode(data: bytes) -> str | None:
            dec = decoders.get(data[:4]) or (
                decode_bmp if data[:2] == b"BM" else None
            )
            if dec is None:
                return None  # unrecognized container: quarantined
            try:
                return ahash64(dec(data)[2])
            except Exception:  # noqa: BLE001 — ANY decode failure quarantines
                return None

        for pdf in batches:
            out = {"uri": [], "ok": []}
            for blob in pdf["content"]:
                for uri, status, ctype, body in iter_warc_responses_typed(
                    bytes(blob)
                ):
                    if status != 200 or not ctype.startswith("image/"):
                        continue
                    out["uri"].append(uri)
                    out["ok"].append(
                        1 if try_decode(bytes(body)) is not None else 0
                    )
            yield pd.DataFrame(out)

    imgs = bf.mapInPandas(op, "uri string, ok int").groupBy("uri").agg(
        F.max("ok").alias("ok")  # cross-shard copies are identical
    )
    refs = (
        _pair_pages_frame(bf)
        .groupBy("img_uri")
        .agg(F.count("*").alias("n_refs"))
        .withColumnRenamed("img_uri", "uri")
    )
    # refs is per-URI (crawl-growing) — shuffle-side join, not broadcast
    per_slot = imgs.join(refs.hint("merge"), "uri").select(
        F.regexp_extract("uri", r"\.([a-z]+)$", 1).alias("ext"),
        "ok",
        "n_refs",
    )
    return per_slot.groupBy("ext").agg(
        F.sum("ok").cast("long").alias("n_ok"),
        F.sum(1 - F.col("ok")).cast("long").alias("n_corrupt"),
        F.sum(F.when(F.col("ok") == 0, F.col("n_refs")).otherwise(0))
        .cast("long")
        .alias("n_pairs_lost"),
    )


def _pair_partials(spark: SparkSession, paths: list) -> tuple[DataFrame, DataFrame]:
    """One crawl dump's partial state for the incremental refresh: the
    pair-level bronze at (lang, fmt, uri, ahash) granularity — counts and
    caption-word sums, pool-bounded — plus the dump's decoded image pool.
    This is everything a later merge needs; re-scanning (and re-decoding)
    the dump is never required again.

    Same collapse-first shape as the bucketed capstone (r9 verdict #3):
    the page side reduces to (lang, uri) bronze BEFORE any join (partial
    aggregation runs map-side), then a merge-hinted shuffle join binds
    the dump's pool. Nothing is broadcast — a real Common Crawl dump is
    ~3B fetches, so even 'one dump's pool' is only broadcastable if the
    ingest unit happens to be a small slice; the shuffle shape is safe
    regardless of dump sizing."""
    bf = read_blobs(spark, paths, "warc.gz").select("content")
    bronze = (
        _pair_pages_frame(bf)
        .groupBy("lang", F.col("img_uri").alias("uri"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.size(F.split("caption", " "))).alias("cap_words"),
        )
    )
    imgs = _pair_imgs_frame(bf)
    part = bronze.join(imgs.hint("merge"), "uri").select(
        "lang", "fmt", "uri", "ahash", "n", "cap_words"
    )
    return part, imgs


@register(
    "pipeline_image_text_pairs_incremental",
    oracle=_pairs_oracle(),
    doc="Incremental refresh of the cross-modal pair corpus — the "
    "base+delta shape a recurring crawl actually runs (the analogue of "
    "pipeline_web_corpus_incremental): the staged shards split into a "
    "base crawl and a newest delta dump at the FILE level, each side "
    "reduces independently to its pool-bounded partial state (pair "
    "bronze at (lang, fmt, uri, ahash) granularity with counts and "
    "caption-word sums, plus its decoded image pool), and the merge "
    "unions the partials, re-derives the GLOBAL canonical table from "
    "the unioned pool (a base-only canonical URI can be dethroned by a "
    "delta image — min-URI must be recomputed over the union, never "
    "carried over), and re-aggregates. The oracle is the capstone's "
    "full-recompute oracle, so merge == recompute is value-checked "
    "exactly; caption-word sums are integers, so the merged average is "
    "exact in both engines. 100 TB shape: only the delta's shards are "
    "scanned and decoded at refresh time; merge cost is bounded by the "
    "image pool and the (lang, fmt, uri) bronze, not the crawl.",
)
def pipeline_image_text_pairs_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    feed = _stage_pair_warc_shards(spark, sf_dir)
    files = sorted(f for f in os.listdir(feed) if f.endswith(".warc.gz"))
    base = [
        os.path.join(feed, f) for f in files if int(f.split(".")[0]) % 5 != 4
    ]
    delta = [
        os.path.join(feed, f) for f in files if int(f.split(".")[0]) % 5 == 4
    ]
    pb, ib = _pair_partials(spark, base)
    pd_, id_ = _pair_partials(spark, delta)
    part = (
        pb.unionByName(pd_)
        .groupBy("lang", "fmt", "uri", "ahash")
        .agg(F.sum("n").alias("n"), F.sum("cap_words").alias("cap_words"))
    )
    pool = ib.unionByName(id_).distinct()
    canon = pool.groupBy("ahash").agg(F.min("uri").alias("canon_uri"))
    # shuffle-side canon join (merge hint, not broadcast): the canonical
    # table is pool-sized and the pool grows linearly with the crawl —
    # at LAION scale a broadcast here would OOM the executors, while the
    # bronze side this joins is already pool-bounded, so an ahash
    # shuffle of both sides is cheap at every scale
    merged = part.join(canon.hint("merge"), "ahash")
    return merged.groupBy("lang", "fmt").agg(
        F.sum("n").cast("long").alias("n_pairs"),
        F.countDistinct("uri").alias("n_images"),
        F.countDistinct("ahash").alias("n_unique_images"),
        F.sum(F.when(F.col("uri") == F.col("canon_uri"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_canonical_pairs"),
        F.round(F.sum("cap_words") / F.sum("n"), 2).alias("avg_caption_words"),
    )


# ---------------------------------------------------------------------------
# genuine stream-stream join: pages and images as two out-of-order feeds


@register(
    "stream_image_text_join",
    oracle=_pairs_oracle(),
    doc="GENUINE stream-stream cross-modal join (r8 verdict #4) — where "
    "stream_image_text_pairs replays the batch join per micro-batch, "
    "this is the real streaming shape: page candidates and decoded "
    "image records arrive OUT OF ORDER on two separate feeds (event "
    "times deliberately scrambled against file/arrival order, one file "
    "per trigger), both sides carry watermarks, and a caption must WAIT "
    "in the join state for its late image: a watermarked LEFT OUTER "
    "stream-stream join on URI with an event-time range bound — so a "
    "dead-link candidate (404s never enter the image feed) emits "
    "null-padded only once the watermark proves no image can still "
    "arrive. The feeds close with end-of-feed sentinel rows far past "
    "every real event time (the production punctuation pattern, as in "
    "stream_stream_left_outer), pushing both watermarks so every "
    "unmatched candidate drains deterministically; sentinels and "
    "unmatched rows are filtered from the drained BATCH result (never "
    "in-stream — Catalyst would push the predicate below the watermark "
    "node and the state would never close). The canonical/stats tail "
    "then runs over the drained matches and must hash-equal the batch "
    "capstone (identical oracle). 100 TB shape: join state is bounded "
    "by the watermark horizon, not the crawl; each side scales "
    "independently; nothing is broadcast (shuffle-side canon join).",
)
def stream_image_text_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime
    import uuid

    from ..session import ensure_session_confs

    ensure_session_confs(spark)
    crawl = _stage_pair_warc_shards(spark, sf_dir)
    bf = read_blobs(spark, crawl, "warc.gz").select("content")
    pages_feed, imgs_feed = (
        run_dir(f"pair_ssj_{part}", sf_dir) for part in ("pages", "imgs")
    )

    epoch = datetime.datetime(2026, 1, 1)
    far = epoch + datetime.timedelta(days=10)

    # page candidates: event time scrambled against doc order, three
    # feed files written separately so arrival order mixes event times
    pages = _pair_pages_frame(bf).withColumn(
        "p_ts",
        F.timestamp_seconds(
            F.lit(int(epoch.timestamp())) + (F.col("doc_id") * 7 % 11) * 3600
        ),
    )
    for part in range(3):
        pages.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(pages_feed)
    spark.createDataFrame(
        [(-1, "zz", 0, "zz://none", "x", far)],
        "doc_id long, lang string, k int, img_uri string, caption string, "
        "p_ts timestamp",
    ).coalesce(1).write.mode("append").parquet(pages_feed)

    imgs = _pair_imgs_frame(bf).withColumn(
        "i_ts",
        F.timestamp_seconds(
            F.lit(int(epoch.timestamp()))
            + (
                F.regexp_extract("uri", r"/(\d+)\.[a-z]+$", 1).cast("long")
                * 5
                % 11
            )
            * 3600
        ),
    )
    for part in range(2):
        imgs.filter(
            F.regexp_extract("uri", r"/(\d+)\.[a-z]+$", 1).cast("long") % 2
            == part
        ).coalesce(1).write.mode("append").parquet(imgs_feed)
    spark.createDataFrame(
        [("zz://none2", "png", "0" * 64, far)],
        "uri string, fmt string, ahash string, i_ts timestamp",
    ).coalesce(1).write.mode("append").parquet(imgs_feed)

    p_schema = spark.read.parquet(pages_feed).schema
    i_schema = spark.read.parquet(imgs_feed).schema
    # the watermark delay must cover the feed's disorder bound (event
    # times here are scrambled across a 10-hour span against arrival
    # order) — a tighter watermark would DROP genuinely late rows, the
    # exact failure mode the delay parameter exists to prevent
    p_stream = (
        spark.readStream.schema(p_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pages_feed)
        .withWatermark("p_ts", "12 hours")
    )
    i_stream = (
        spark.readStream.schema(i_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(imgs_feed)
        .withWatermark("i_ts", "12 hours")
    )
    joined = p_stream.join(
        i_stream,
        (F.col("img_uri") == F.col("uri"))
        & (F.col("i_ts") >= F.col("p_ts") - F.expr("INTERVAL 12 HOURS"))
        & (F.col("i_ts") <= F.col("p_ts") + F.expr("INTERVAL 12 HOURS")),
        "left_outer",
    ).select("doc_id", "lang", "caption", "uri", "fmt", "ahash")

    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # eager materialization: the memory-sink view cannot self-join (its
    # plan defeats reference deduplication), and the checkpoint also
    # frees the sink for the canon + stats tail
    drained = (
        spark.table(name)
        .filter(F.col("doc_id") >= 0)
        .localCheckpoint(eager=True)
    )
    # matched pairs only (dead-link candidates emitted null-padded — the
    # left-outer proof — but carry no image columns for the stats)
    pairs = drained.filter(F.col("uri").isNotNull())
    pool = pairs.select("uri", "fmt", "ahash").distinct()
    canon = pool.groupBy("ahash").agg(F.min("uri").alias("canon_uri"))
    return (
        pairs.join(canon.hint("merge"), "ahash")
        .groupBy("lang", "fmt")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("uri").alias("n_images"),
            F.countDistinct("ahash").alias("n_unique_images"),
            F.sum((F.col("uri") == F.col("canon_uri")).cast("long")).alias(
                "n_canonical_pairs"
            ),
            F.round(F.avg(F.size(F.split("caption", " "))), 2).alias(
                "avg_caption_words"
            ),
        )
    )


# ---------------------------------------------------------------------------
# the LAION-scale variant: bucketed pool, nothing broadcast

POOL_BUCKETS = 8


@register(
    "pipeline_image_text_pairs_bucketed",
    oracle=_pairs_oracle(),
    doc="The cross-modal capstone in the shape that survives LAION/"
    "DataComp scale, where the unique-image pool grows linearly with "
    "the crawl (billions of decoded-hash rows — the same order as the "
    "page corpus) and broadcasting it would OOM every executor: the "
    "page side collapses FIRST to (lang, uri) bronze — count + "
    "caption-word sums, one partial-agg shuffle that is the big side's "
    "ONLY shuffle; the decoded pool is written ONCE as a URI-bucketed "
    f"sorted table ({POOL_BUCKETS} buckets; bucketBy+saveAsTable "
    "carries the layout in catalog metadata, and the bucket set must "
    "equal the FULL join-key set or Spark >= 3.3 silently disables the "
    "bucketed scan); the bronze-pool join is a merge join whose pool "
    "side reads the bucketed scan with ZERO Exchange; the canonical "
    "representative is a groupBy(ahash) min-URI aggregate joined "
    "shuffle-side (merge hint), NOT a broadcast canon table. Nothing "
    "in the plan is broadcast — plan-locked in tests/test_image_text."
    "py — and every post-bronze relation is pool-scale, so the plan "
    "is insensitive to how large the crawl grows. Output and oracle "
    "are identical to pipeline_image_text_pairs (value-equality also "
    "asserted in the plan-lock test): integer caption-word sums make "
    "the re-aggregated average exact.",
)
def pipeline_image_text_pairs_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from ..operators.dedup import materialize_release

    # dots would split the table name
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _stage_pair_warc_shards(spark, sf_dir)
    bf = read_blobs(spark, path, "warc.gz").select("content")
    # big side: pages reduce to (lang, uri) granularity before ANY join —
    # partial aggregation runs map-side, so the page corpus crosses the
    # wire once, already collapsed
    bronze = (
        _pair_pages_frame(bf)
        .groupBy("lang", F.col("img_uri").alias("uri"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.size(F.split("caption", " "))).alias("cap_words"),
        )
    )
    reap_warehouse(spark)
    t = table_name(f"img_pool_{tag}")
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        (
            _pair_imgs_frame(bf)
            .repartition(POOL_BUCKETS, "uri")
            .write.mode("overwrite")
            .bucketBy(POOL_BUCKETS, "uri")
            .sortBy("uri")
            .saveAsTable(t)
        )
        pool = spark.table(t)
        canon = pool.groupBy("ahash").agg(F.min("uri").alias("canon_uri"))
        # merge hints pin the at-scale join strategy without touching
        # autoBroadcastJoinThreshold (a session-wide toggle would
        # deoptimize every other query computed under it); the pool side
        # of the first join is the bucketed sorted scan — no Exchange,
        # no Sort
        joined = (
            bronze.join(pool.hint("merge"), "uri")
            .join(canon.hint("merge"), "ahash")
        )
        out = joined.groupBy("lang", "fmt").agg(
            F.sum("n").cast("long").alias("n_pairs"),
            F.countDistinct("uri").alias("n_images"),
            F.countDistinct("ahash").alias("n_unique_images"),
            F.sum(
                F.when(F.col("uri") == F.col("canon_uri"), F.col("n")).otherwise(0)
            )
            .cast("long")
            .alias("n_canonical_pairs"),
            F.round(F.sum("cap_words") / F.sum("n"), 2).alias(
                "avg_caption_words"
            ),
        )
        # eager distributed materialization: the result must outlive the
        # bucketed table dropped below
        return materialize_release(out)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------------------
# WebDataset tar-shard ingest (the training dataloader's on-disk format)


def _build_webdataset_shard(pdf, sid: int) -> bytes:
    """One WebDataset tar shard: per document three members grouped by
    basename key — {doc_id:08d}.jpg (a REAL baseline JPEG of the md5
    pixel image), .txt (the caption text), .json (metadata) — exactly
    the layout LAION-scale training jobs stream from object storage."""
    import json as _json

    from ..operators.jpeg import encode_jpeg
    from ..operators.multimodal import md5_pixels
    from ..operators.tar import encode_tar

    members: list[tuple[str, bytes]] = []
    for r in pdf.itertuples():
        did = int(r.doc_id)
        key = f"{did:08d}"
        jpg = encode_jpeg(md5_pixels(r.text, 64), 8, 8, quality=95)
        members.append((f"{key}.jpg", jpg))
        members.append((f"{key}.txt", r.text.encode("utf-8")))
        members.append(
            (
                f"{key}.json",
                _json.dumps(
                    {"lang": r.lang, "source": r.source}, sort_keys=True
                ).encode("utf-8"),
            )
        )
    return encode_tar(members)


def _stage_webdataset_shards(spark: SparkSession, sf_dir: str) -> str:
    return stage_shard_files(
        spark, sf_dir, "webdataset_shards", _build_webdataset_shard, suffix="tar"
    )


@register(
    "multimodal_webdataset_ingest",
    oracle="""
    SELECT doc_id, 3 AS n_members, 8 AS width, 8 AS height, 1 AS within_bound,
           len(string_split(text, ' '))::INT AS n_caption_words, lang
    FROM documents
    """,
    doc="WebDataset tar-shard ingest — the de-facto multimodal TRAINING "
    "dataloader format (tar shards whose members group into samples by "
    "basename: key.jpg + key.txt + key.json), i.e. the format the pair "
    "corpus this family builds actually ships in: genuine ustar shards "
    "are staged from the executors (operators/tar.py, pure stdlib, "
    "header checksums + deterministic fields; cross-validated BOTH "
    "directions against the independent stdlib tarfile module), scanned "
    "back with binaryFile, and walked by the hand-rolled block reader "
    "inside an Arrow kernel — members regroup into samples, the .jpg "
    "decodes through the REAL JPEG codec (error-bound vs the "
    "recomputed source image), the .txt caption and .json metadata "
    "parse, and the oracle demands per-sample completeness (3 members), "
    "dims, the bound flag, caption token counts, and the metadata lang. "
    "Scale shape: shards list and decode in parallel (training jobs "
    "stream thousands of shards), each Arrow batch holds a bounded "
    "shard set, a torn member fails its shard's record at the checksum "
    "— per-record isolation, never a job abort.",
)
def multimodal_webdataset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_webdataset_shards(spark, sf_dir)
    bf = read_blobs(spark, path, "tar").select("content")

    def op(batches):
        import json as _json

        import numpy as np
        import pandas as pd

        from ..operators.jpeg import decode_jpeg
        from ..operators.multimodal import md5_pixels
        from ..operators.tar import iter_tar

        for pdf in batches:
            out = {
                "doc_id": [],
                "n_members": [],
                "width": [],
                "height": [],
                "within_bound": [],
                "n_caption_words": [],
                "lang": [],
            }
            for blob in pdf["content"]:
                samples: dict[str, dict[str, bytes]] = {}
                for name, data in iter_tar(bytes(blob)):
                    key, _, ext = name.partition(".")
                    samples.setdefault(key, {})[ext] = data
                for key in sorted(samples):
                    parts = samples[key]
                    caption = parts["txt"].decode("utf-8")
                    meta = _json.loads(parts["json"].decode("utf-8"))
                    w, h, rgb = decode_jpeg(parts["jpg"])
                    exp = np.array(md5_pixels(caption, 64)).reshape(8, 8)
                    err = int(
                        np.abs(rgb[..., 0].astype(int) - exp).max()
                    )
                    out["doc_id"].append(int(key))
                    out["n_members"].append(len(parts))
                    out["width"].append(w)
                    out["height"].append(h)
                    # gray q95: the baseline corpus bound (mode 0)
                    out["within_bound"].append(1 if err <= 20 else 0)
                    out["n_caption_words"].append(len(caption.split(" ")))
                    out["lang"].append(meta["lang"])
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, n_members int, width int, height int, "
        "within_bound int, n_caption_words int, lang string",
    )


# ---------------------------------------------------------------------------
# WebDataset export: the pair corpus SHIPPED in the training format


def _pair_imgs_bytes_frame(bf: DataFrame) -> DataFrame:
    """Like _pair_imgs_frame but keeps the original payload bytes — the
    export path re-ships the fetched image, it does not re-encode."""

    def op(batches):
        import pandas as pd

        from ..operators.warc import iter_warc_responses_typed

        for pdf in batches:
            out = {"uri": [], "payload": []}
            for blob in pdf["content"]:
                for uri, status, ctype, body in iter_warc_responses_typed(
                    bytes(blob)
                ):
                    if status != 200 or not ctype.startswith("image/"):
                        continue
                    out["uri"].append(uri)
                    out["payload"].append(bytes(body))
            yield pd.DataFrame(out)

    return bf.mapInPandas(op, "uri string, payload binary").dropDuplicates(
        ["uri"]
    )


_EXPORT_DOCS_PER_SHARD = 50


@register(
    "multimodal_webdataset_export",
    oracle="""
    WITH ks AS (
      SELECT doc_id, lang, text, 0 AS k FROM documents
      UNION ALL
      SELECT doc_id, lang, text, 1 AS k FROM documents WHERE doc_id % 2 = 1),
    refs AS (
      SELECT doc_id, lang, k, (doc_id + 7*k) % 40 AS iid,
             3 + doc_id % 4 + 1 AS n_caption_words
      FROM ks)
    SELECT doc_id, k, lang,
           ['png','gif','bmp','tiff'][1 + iid % 4] AS fmt,
           n_caption_words::INT AS n_caption_words,
           1 AS hash_ok
    FROM refs WHERE iid % 13 != 5
    """,
    doc="WebDataset EXPORT — the produce half of the training-format "
    "story (multimodal_webdataset_ingest is the consume half): the "
    "mined (caption, image) pairs are grouped into export shards and "
    "written from the executors as genuine ustar .tar files in the "
    "key.{fmt}/key.txt/key.json sample layout (image bytes re-shipped "
    "as fetched, never re-encoded — the lossless-passthrough rule real "
    "exporters follow), then READ BACK through the ingest walker: each "
    "sample's image decodes through the real codec and its aHash must "
    "equal the md5 pixel formula for its pool slot (hash_ok — a "
    "corrupted passthrough fails the oracle), captions token-count "
    "against the reference rule, dead links never export. Scale shape: "
    "the export groupBy shards on pair keys (repartition by shard id), "
    "each task writes its shard sequentially — the object-store upload "
    "pattern; readback is the ingest's parallel scan.",
)
def multimodal_webdataset_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    crawl = _stage_pair_warc_shards(spark, sf_dir)
    bf = read_blobs(spark, crawl, "warc.gz").select("content")
    pages = _pair_pages_frame(bf)
    imgs = _pair_imgs_bytes_frame(bf)
    # shuffle-hash join, never a broadcast: imgs here carries the RAW
    # payload bytes — the one relation that must never be replicated to
    # every executor (it is the crawl's full decoded-media footprint at
    # LAION scale); each task builds only its partition's slice
    samples = pages.join(imgs.hint("shuffle_hash"), pages.img_uri == imgs.uri).select(
        "doc_id",
        "k",
        "lang",
        "caption",
        "img_uri",
        "payload",
        F.floor(F.col("doc_id") / _EXPORT_DOCS_PER_SHARD)
        .cast("int")
        .alias("shard"),
    )

    out_dir = run_dir("webdataset_export", sf_dir)
    os.makedirs(out_dir)

    def write_shard(pdf):
        import json as _json

        import pandas as pd

        from ..operators.tar import encode_tar

        pdf = pdf.sort_values(["doc_id", "k"])
        sid = int(pdf["shard"].iloc[0])
        members: list[tuple[str, bytes]] = []
        for r in pdf.itertuples():
            ext = r.img_uri.rsplit(".", 1)[1]
            iid = int(r.img_uri.rsplit("/", 1)[1].split(".")[0])
            key = f"{int(r.doc_id):08d}-{int(r.k)}"
            members.append((f"{key}.{ext}", bytes(r.payload)))
            members.append((f"{key}.txt", r.caption.encode("utf-8")))
            members.append(
                (
                    f"{key}.json",
                    _json.dumps(
                        {"lang": r.lang, "iid": iid}, sort_keys=True
                    ).encode("utf-8"),
                )
            )
        write_atomic(out_dir, f"{sid:05d}.tar", encode_tar(members))
        return pd.DataFrame({"shard": [sid], "n": [len(pdf)]})

    samples.groupBy("shard").applyInPandas(
        write_shard, "shard int, n int"
    ).collect()

    back = read_blobs(spark, out_dir, "tar").select("content")

    def verify(batches):
        import json as _json

        import pandas as pd

        from ..operators.gif_bmp import decode_bmp, decode_gif
        from ..operators.multimodal import _png_decode, ahash64, md5_pixels
        from ..operators.tar import iter_tar
        from ..operators.tiff import decode_tiff

        decoders = {
            "png": _png_decode,
            "gif": decode_gif,
            "bmp": decode_bmp,
            "tiff": decode_tiff,
        }
        for pdf in batches:
            out = {
                "doc_id": [],
                "k": [],
                "lang": [],
                "fmt": [],
                "n_caption_words": [],
                "hash_ok": [],
            }
            for blob in pdf["content"]:
                samples_: dict[str, dict[str, tuple[str, bytes]]] = {}
                for name, data in iter_tar(bytes(blob)):
                    key, _, ext = name.partition(".")
                    samples_.setdefault(key, {})[ext] = (ext, data)
                for key in sorted(samples_):
                    parts = samples_[key]
                    fmt = next(e for e in parts if e not in ("txt", "json"))
                    caption = parts["txt"][1].decode("utf-8")
                    meta = _json.loads(parts["json"][1].decode("utf-8"))
                    _w, _h, gray = decoders[fmt](parts[fmt][1])
                    exp = ahash64(
                        md5_pixels(f"im{meta['iid'] % _IMG_CONTENT_MOD}", 64)
                    )
                    did, kk = key.split("-")
                    out["doc_id"].append(int(did))
                    out["k"].append(int(kk))
                    out["lang"].append(meta["lang"])
                    out["fmt"].append(fmt)
                    out["n_caption_words"].append(len(caption.split(" ")))
                    out["hash_ok"].append(1 if ahash64(gray) == exp else 0)
            yield pd.DataFrame(out)

    return back.mapInPandas(
        verify,
        schema="doc_id long, k int, lang string, fmt string, "
        "n_caption_words int, hash_ok int",
    )
