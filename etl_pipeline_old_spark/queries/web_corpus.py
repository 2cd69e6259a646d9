"""Web-corpus ingestion: the first mile of a C4/CCNet-shape
training-data pipeline (Raffel et al. 2020 §2.2 strips menus/boilerplate
and dedupes by URL before any quality gate runs).

The family, crawl to corpus:
- ``text_html_extract`` / ``corpus_url_normalize`` — pure JVM column
  algebra (regexp + higher-order array functions), map-only, no UDF;
- ``warc_web_ingest`` / ``stream_warc_ingest`` — REAL Common
  Crawl-layout .warc.gz shards (operators/warc.py) staged from the
  executors, parsed in an Arrow kernel, batch and streaming through ONE
  parse definition;
- ``warc_ingest_quarantine`` — per-gzip-member fault isolation with
  magic-byte resync on deliberately torn shards;
- ``pipeline_web_corpus`` / ``pipeline_web_corpus_incremental`` — the
  crawl -> per-language-corpus capstone, plus the base+delta partial
  merge value-checked equal to the full recompute by the same oracle.

Verification shape: the HTML query renders a deterministic page around
each document IN-PLAN (head with title/style/script, nav link bar,
entity-encoded body, inline tags, a second script in the body whose
``2 < 3`` is the classic naive-tag-strip killer) and the extraction
chain must recover the ORIGINAL text exactly — the DuckDB oracle
recomputes the expected output from the base table alone, so a
render-side bug and an extract-side bug would have to invert each other
byte-for-byte to slip through; the render itself is additionally pinned
against a hand-written page in tests/test_web_corpus.py, and the WARC
path stages through a second independently-written page wrapper. The URL
query builds the same messy raw URL in BOTH engines and canonicalizes
with the same regex algebra, value-checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..sources.files import BINARYFILE_SCHEMA, SHARD_DOCS, read_blobs, stage_shard_files
from ..workdir import run_dir

# ---------------------------------------------------------------------------
# HTML -> text extraction

_ENTITY_DECODES = (
    # &amp; decodes LAST so entity-encoded entities stay literal
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&#39;", "'"),
    ("&quot;", '"'),
    ("&amp;", "&"),
)


def render_html_page(doc_id, text, lang):
    """Deterministic HTML page around a document, built from Spark columns
    (the in-plan analogue of staging .html files): head with title, a CSS
    block and a script whose ``id < 99`` breaks naive tag-stripping, a nav
    bar with 1 + doc_id % 5 links, the body text with every space
    entity-encoded and the first word bolded, a second body script, and a
    footer with a literal ``&copy;`` entity."""
    links = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), (F.lit(1) + doc_id % 5).cast("int")),
            lambda k: F.concat(
                F.lit('<a href="/p/'), k.cast("string"), F.lit('">more</a>')
            ),
        ),
    )
    body = F.regexp_replace(text, " ", "&nbsp;")
    body = F.regexp_replace(body, "^(\\w+)", "<b>$1</b>")
    return F.concat(
        F.lit("<html><head><title>doc "),
        doc_id.cast("string"),
        F.lit("</title><style>body { margin: 0; }</style><script>var id="),
        doc_id.cast("string"),
        F.lit("; if (id < 99) { id = id + 1; }</script></head><body><nav>"),
        links,
        F.lit("</nav><p>"),
        body,
        F.lit('</p><script type="text/javascript">if (2 < 3) { track(); }'
              "</script><footer>&copy; "),
        lang,
        F.lit("</footer></body></html>"),
    )


def extract_html_text(html):
    """Boilerplate-dropping HTML -> text: remove head (title/style/script
    live there), body scripts/styles, nav and footer blocks, THEN strip
    the remaining tags, decode the common entities, and collapse
    whitespace. Order matters: block removal must precede tag-stripping
    because script bodies contain bare ``<`` that ``<[^>]+>`` would eat
    together with real content."""
    t = F.regexp_replace(html, "(?s)<head>.*?</head>", " ")
    t = F.regexp_replace(t, "(?s)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, "(?s)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, "(?s)<nav>.*?</nav>", " ")
    t = F.regexp_replace(t, "(?s)<footer>.*?</footer>", " ")
    # quoted attribute values may legally contain '>' (<a title="a>b">),
    # so the tag matcher consumes quoted spans atomically
    t = F.regexp_replace(t, "<(?:[^>\"']|\"[^\"]*\"|'[^']*')+>", " ")
    for ent, ch in _ENTITY_DECODES:
        t = F.regexp_replace(t, ent, ch)
    return F.trim(F.regexp_replace(t, "\\s+", " "))


@register(
    "text_html_extract",
    oracle="""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS extracted
      FROM documents)
    SELECT doc_id,
           'doc ' || doc_id AS title,
           extracted,
           (1 + doc_id % 5)::INT AS n_links,
           length(string_split(extracted, ' '))::INT AS n_words,
           round((1 + doc_id % 5) / length(string_split(extracted, ' ')), 4)
             AS link_density
    FROM norm
    """,
    doc="HTML -> text extraction, the first operator of a web-corpus "
    "pipeline (C4 §2.2 shape): render a deterministic page around each "
    "document in-plan (head/title/style/script, nav link bar, "
    "entity-encoded body with inline tags, a second body script whose "
    "'2 < 3' defeats naive tag-stripping, footer), then recover the text "
    "with a pure-JVM regexp chain — drop head/script/style/nav/footer "
    "blocks, strip tags, decode entities (&amp; last), collapse "
    "whitespace. The oracle recomputes the expected output from the base "
    "table alone, so extraction must recover the ORIGINAL text exactly; "
    "link count comes from regexp_count over the real rendered page and "
    "must equal the oracle's closed form. Boilerplate metrics (link "
    "density per C4/Gopher) emitted alongside. Map-only projection: no "
    "shuffle, no UDF — scales as the scan does.",
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    html = render_html_page(F.col("doc_id"), F.col("text"), F.col("lang"))
    page = d.select("doc_id", html.alias("html"))
    extracted = extract_html_text(F.col("html"))
    n_links = F.regexp_count(F.col("html"), F.lit('<a href="')).alias("n_links")
    out = page.select(
        "doc_id",
        F.regexp_extract("html", "<title>([^<]*)</title>", 1).alias("title"),
        extracted.alias("extracted"),
        n_links,
    )
    n_words = F.size(F.split(F.col("extracted"), " "))
    return out.select(
        "doc_id",
        "title",
        "extracted",
        "n_links",
        n_words.alias("n_words"),
        F.round(F.col("n_links") / n_words, 4).alias("link_density"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization

# three raw query-string renderings that must all canonicalize to the
# same 'a=1&b=2' (tracking params dropped, survivors sorted)
_QS_VARIANTS = ("utm_source=feed&b=2&a=1", "a=1&utm_campaign=x&b=2", "b=2&a=1")


def _raw_url_spark(doc_id, source, lang):
    """The messy raw URL, Spark rendering — upper-cased scheme and host,
    default :443 port on even doc_ids, trailing slash on doc_id%3==0,
    tracking params, a fragment. The DuckDB oracle builds the IDENTICAL
    string (test_web_corpus pins a fixture row), so normalization is
    compared on equal inputs."""
    qs = (
        F.when(doc_id % 3 == 0, F.lit(_QS_VARIANTS[0]))
        .when(doc_id % 3 == 1, F.lit(_QS_VARIANTS[1]))
        .otherwise(F.lit(_QS_VARIANTS[2]))
    )
    return F.concat(
        F.lit("HTTPS://WWW."),
        F.upper(source),
        F.lit(".Example.COM"),
        F.when(doc_id % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Articles/"),
        doc_id.cast("string"),
        F.when(doc_id % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        qs,
        F.lit("#sec-"),
        lang,
    )


_RAW_URL_SQL = """
    'HTTPS://WWW.' || upper(source) || '.Example.COM'
      || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
      || '/Articles/' || doc_id
      || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
      || '?' || (CASE WHEN doc_id % 3 = 0 THEN '{q0}'
                      WHEN doc_id % 3 = 1 THEN '{q1}'
                      ELSE '{q2}' END)
      || '#sec-' || lang
""".format(q0=_QS_VARIANTS[0], q1=_QS_VARIANTS[1], q2=_QS_VARIANTS[2])


def normalize_url(raw):
    """URL canonicalization, pure JVM columns: drop the fragment,
    lowercase scheme and host, strip the https default port, strip the
    trailing slash, drop utm_* tracking params and sort the survivors.
    Returns (norm_url, domain) — domain is the host with any port and a
    leading www. stripped, the C4-style URL-dedup key."""
    no_frag = F.regexp_replace(raw, "#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, "^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract(no_frag, "^[A-Za-z]+://([^/?]+)", 1))
    host = F.when(
        scheme == "https", F.regexp_replace(hostport, ":443$", "")
    ).otherwise(hostport)
    path = F.regexp_extract(no_frag, "^[A-Za-z]+://[^/?]+([^?]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qs = F.regexp_extract(no_frag, "\\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (F.substring(p, 1, 4) != "utm_") & (p != ""),
        )
    )
    qs_norm = F.array_join(kept, "&")
    norm = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs_norm != "", F.concat(F.lit("?"), qs_norm)).otherwise(F.lit("")),
    )
    domain = F.regexp_replace(
        F.regexp_replace(host, ":[0-9]+$", ""), "^www\\.", ""
    )
    return norm, domain


@register(
    "corpus_url_normalize",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents),
    parts AS (
      SELECT doc_id, raw_url,
             regexp_replace(raw_url, '#.*$', '') AS no_frag
      FROM raw),
    fields AS (
      SELECT doc_id, raw_url,
             lower(regexp_extract(no_frag, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(no_frag, '^[A-Za-z]+://([^/?]+)', 1)) AS hostport,
             regexp_extract(no_frag, '^[A-Za-z]+://[^/?]+([^?]*)', 1) AS path0,
             regexp_extract(no_frag, '\\?(.*)$', 1) AS qs
      FROM parts),
    normed AS (
      SELECT doc_id, raw_url, scheme,
             CASE WHEN scheme = 'https'
                  THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END AS host,
             CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
                  ELSE regexp_replace(path0, '/+$', '') END AS path,
             array_to_string(
               list_sort(list_filter(string_split(qs, '&'),
                                     p -> substr(p, 1, 4) != 'utm_' AND p != '')),
               '&') AS qs_norm
      FROM fields)
    SELECT doc_id, raw_url,
           scheme || '://' || host || path
             || (CASE WHEN qs_norm != '' THEN '?' || qs_norm ELSE '' END)
             AS norm_url,
           regexp_replace(regexp_replace(host, ':[0-9]+$', ''), '^www\\.', '')
             AS domain
    FROM normed
    """,
    doc="URL canonicalization, the C4-style URL-dedup key builder: three "
    "messy raw renderings per corpus (mixed-case scheme/host, https "
    "default :443 port, trailing slash, shuffled query params, utm_* "
    "tracking params, fragments) must all collapse to one canonical "
    "form — lowercase scheme+host, port/fragment/trailing-slash "
    "stripped, tracking params dropped, survivors sorted. Raw URL is "
    "built with the IDENTICAL formula in both engines, so the oracle "
    "value-checks the normalization itself, not the synth. Pure JVM "
    "regexp + higher-order array algebra (filter/array_sort/array_join "
    "on the split query string): map-only, shuffle-free, "
    "whole-stage-codegen friendly at any scale.",
)
def corpus_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    raw = _raw_url_spark(F.col("doc_id"), F.col("source"), F.col("lang"))
    base = d.select("doc_id", raw.alias("raw_url"))
    norm, domain = normalize_url(F.col("raw_url"))
    return base.select(
        "doc_id", "raw_url", norm.alias("norm_url"), domain.alias("domain")
    )


# ---------------------------------------------------------------------------
# WARC shard ingest (Common Crawl's container format)


def _wrap_html_py(doc_id: int, text: str, lang: str) -> bytes:
    """The Python-side page wrapper for WARC staging. Deliberately NOT the
    same markup as render_html_page: extraction must recover the original
    text from ANY well-formed wrapping, so staging through a second,
    independently-written renderer widens what the oracle proves."""
    return (
        f"<html><head><title>doc {doc_id}</title>"
        f"<script>if ({doc_id} < 1000000) {{ boot(); }}</script></head>"
        '<body><nav><a href="/home">home</a></nav><p>'
        + text.replace(" ", "&nbsp;")
        + f"</p><footer>&copy; {lang}</footer></body></html>"
    ).encode("utf-8")


def _warc_uri(source: str, doc_id: int) -> str:
    return f"https://www.{source}.example.com/articles/{doc_id}"


def _build_clean_shard(pdf, sid: int) -> bytes:
    from ..operators.warc import encode_warc_shard

    recs = [
        (_warc_uri(r.source, int(r.doc_id)),
         _wrap_html_py(int(r.doc_id), r.text, r.lang),
         404 if r.doc_id % 10 == 7 else 200)
        for r in pdf.itertuples()
    ]
    return encode_warc_shard(recs, sid)


def _stage_warc_shards(spark: SparkSession, sf_dir: str) -> str:
    """The clean Common Crawl-layout corpus: warcinfo member first, one
    gzip member per response record, 404s cycled by doc_id % 10 == 7."""
    return stage_shard_files(spark, sf_dir, "warc_shards", _build_clean_shard)


@register(
    "warc_web_ingest",
    oracle="""
    SELECT doc_id,
           'https://www.' || source || '.example.com/articles/' || doc_id
             AS target_uri,
           (CASE WHEN doc_id % 10 = 7 THEN 404 ELSE 200 END)::INT AS http_status,
           trim(regexp_replace(text, '\\s+', ' ', 'g')) AS extracted
    FROM documents
    """,
    doc="REAL Common Crawl-shape ingest, end-to-end: the corpus is staged "
    "as genuine .warc.gz shards (ISO 28500 records, one gzip member per "
    "record exactly like CC, warcinfo record first, deterministic "
    "ids/dates; operators/warc.py, pure stdlib), scanned back with "
    "binaryFile, record-split and parsed inside an Arrow mapInPandas "
    "kernel (multi-member gzip walk, Content-Length-strict framing, "
    "HTTP status line parse, non-response records skipped), then the "
    "HTML payload flows through the SAME JVM extract_html_text chain as "
    "text_html_extract — the oracle demands exact recovery of the "
    "original text plus the URI and the per-doc HTTP status (404s cycle "
    "in like a real crawl; filtering is the consumer's choice, so they "
    "are reported, not dropped). The staging wrapper is an independent "
    "second renderer, so recovery cannot be satisfied by compensating "
    "render/extract bugs. 100 TB plan: shards list and decode in "
    "parallel (CC publishes ~90k shards/crawl), each Arrow batch holds "
    "a bounded set of shard blobs, framing errors fail per shard.",
)
def warc_web_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_warc_shards(spark, sf_dir)
    bf = read_blobs(spark, path, "warc.gz").select("content")
    return _parse_warc_frame(bf)


def _parse_warc_frame(bf: DataFrame) -> DataFrame:
    """Shard blobs -> extracted documents; ONE definition shared by the
    batch and streaming ingests (the stream_png_ingest contract)."""

    def op(batches):
        import pandas as pd

        from ..operators.warc import iter_warc_responses

        for pdf in batches:
            out = {"doc_id": [], "target_uri": [], "http_status": [], "html": []}
            for blob in pdf["content"]:
                for uri, status, body in iter_warc_responses(bytes(blob)):
                    out["doc_id"].append(int(uri.rsplit("/", 1)[1]))
                    out["target_uri"].append(uri)
                    out["http_status"].append(status)
                    out["html"].append(body.decode("utf-8"))
            yield pd.DataFrame(out)

    parsed = bf.mapInPandas(
        op, "doc_id long, target_uri string, http_status int, html string"
    )
    return parsed.select(
        "doc_id",
        "target_uri",
        "http_status",
        extract_html_text(F.col("html")).alias("extracted"),
    )


# ---------------------------------------------------------------------------
# the C4-shape capstone: crawl shards -> clean per-language corpus stats

_MIN_WORDS = 25  # C4-ish short-page gate; the sf corpora span 10-99 words


def _web_capstone_oracle() -> str:
    from ..operators import text as TX
    from ..operators.dedup import NORMALIZE_SQL

    norm = NORMALIZE_SQL.format(x="text")
    hits = {
        lang: f"len(list_filter(string_split({norm}, ' '), x -> x IN {tuple(words)}))"
        for lang, words in TX.LANG_STOPWORDS
    }
    best = f"greatest({', '.join(hits.values())})"
    chain = " ".join(
        f"WHEN {hits[lang]} = best AND best > 0 THEN '{lang}'"
        for lang, _ in TX.LANG_STOPWORDS
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))
               AS n_words,
             {best} AS best
      FROM documents
      WHERE doc_id % 10 != 7),
    gated AS (
      SELECT CASE {chain} ELSE 'und' END AS lang_pred,
             n_words,
             source || '.example.com' AS domain
      FROM scored
      WHERE n_words >= {_MIN_WORDS})
    SELECT lang_pred,
           count(*)::BIGINT AS n_docs,
           sum(n_words)::BIGINT AS n_tokens,
           count(DISTINCT domain)::BIGINT AS n_domains,
           round(avg(n_words), 2) AS avg_words
    FROM gated
    GROUP BY lang_pred
    """


@register(
    "pipeline_web_corpus",
    oracle=_web_capstone_oracle(),
    doc="The C4-reproduction capstone, crawl to clean corpus in one plan: "
    "ingest the staged .warc.gz shards (real gzip-member record walk), "
    "keep HTTP 200s, recover text through the JVM HTML extraction, gate "
    "short pages (n_words >= 25), predict language with the stopword "
    "lang-ID operator ON THE RECOVERED TEXT (the oracle recomputes it "
    "from the base table, so a lossy extraction would flip predictions "
    "and fail the hash), and report per-language corpus stats: docs, "
    "tokens, distinct source domains (from the WARC target URI), mean "
    "length. Scale shape: everything up to the final aggregate is "
    "map-only over shard blobs; the groupBy lands on a handful of "
    "language keys with partial aggregation, and the distinct-domain "
    "count is the standard two-phase distinct aggregate — no joins, no "
    "driver collects, no Python past the record parse.",
)
def pipeline_web_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as TX

    ing = warc_web_ingest(spark, sf_dir).filter(F.col("http_status") == 200)
    gated = ing.withColumn(
        "n_words", F.size(F.split(F.col("extracted"), " "))
    ).filter(F.col("n_words") >= _MIN_WORDS)
    scored = gated.select(
        TX.lang_id(F.col("extracted")).alias("lang_pred"),
        "n_words",
        F.regexp_extract("target_uri", "^https://www\\.([^/]+)", 1).alias(
            "domain"
        ),
    )
    return scored.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_tokens"),
        F.countDistinct("domain").alias("n_domains"),
        F.round(F.avg("n_words"), 2).alias("avg_words"),
    )


# ---------------------------------------------------------------------------
# per-member fault isolation on torn shards

_TORN_MOD = 17  # doc_id % 17 == 3 -> that record's gzip member is corrupted


def _build_torn_shard(pdf, sid: int) -> bytes:
    from ..operators.warc import (
        encode_http_response,
        encode_warc_record,
        gzip_member,
    )

    members = []
    for r in pdf.itertuples():
        doc_id = int(r.doc_id)
        rec = encode_warc_record(
            "response",
            {
                "WARC-Record-ID": f"<urn:uuid:torn-{sid}-{doc_id}>",
                "WARC-Date": "2026-01-01T00:00:00Z",
                "WARC-Target-URI": _warc_uri(r.source, doc_id),
                "Content-Type": "application/http; msgtype=response",
            },
            encode_http_response(_wrap_html_py(doc_id, r.text, r.lang)),
        )
        m = bytearray(gzip_member(rec))
        if doc_id % _TORN_MOD == 3:
            m[len(m) // 2] ^= 0xFF
        members.append(bytes(m))
    return b"".join(members)


def _stage_torn_warc_shards(spark: SparkSession, sf_dir: str) -> str:
    """Like the clean stager but with deterministic damage: the gzip
    member of every doc_id % _TORN_MOD == 3 record has its middle byte
    XOR-flipped (header intact so the member is still FOUND, deflate/CRC
    broken so it cannot be READ) — the torn-upload shape object stores
    actually serve."""
    return stage_shard_files(spark, sf_dir, "warc_torn", _build_torn_shard)


@register(
    "warc_ingest_quarantine",
    oracle=f"""
    SELECT (doc_id // {SHARD_DOCS})::INT AS shard,
           count(*) FILTER (WHERE doc_id % {_TORN_MOD} != 3)::BIGINT AS n_ok,
           count(*) FILTER (WHERE doc_id % {_TORN_MOD} = 3)::BIGINT AS n_corrupt,
           coalesce(sum(doc_id) FILTER (WHERE doc_id % {_TORN_MOD} != 3), 0)::BIGINT
             AS sum_doc_id_ok
    FROM documents
    GROUP BY 1
    """,
    doc="Per-MEMBER fault isolation on torn .warc.gz shards — one flipped "
    "byte mid-shard must quarantine one record, not the whole file: "
    "shards are staged with the gzip member of every "
    f"doc_id%{_TORN_MOD}==3 record deliberately corrupted (deflate/CRC "
    "broken, header intact), and the lenient reader "
    "(operators/warc.iter_warc_responses_lenient) captures the per-member "
    "zlib error and RESYNCS at the next gzip magic, so all healthy "
    "records around the damage still decode. Per shard the query reports "
    "healthy/quarantined counts plus the sum of recovered doc_ids — the "
    "oracle knows exactly which records were damaged, so both the "
    "quarantine count AND the survival of every other record are "
    "value-checked. The strict reader on the same bytes would abort the "
    "shard (unit-tested); at 100 TB this is the difference between "
    "losing one document and losing a 1 GiB shard per bit flip.",
)
def warc_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_torn_warc_shards(spark, sf_dir)
    bf = read_blobs(spark, path, "warc.gz").select("path", "content")

    def op(batches):
        import re

        import pandas as pd

        from ..operators.warc import iter_warc_responses_lenient

        for pdf in batches:
            out = {"shard": [], "doc_id": [], "ok": []}
            for p, blob in zip(pdf["path"], pdf["content"]):
                sid = int(re.search(r"(\d+)\.warc\.gz$", p).group(1))
                for uri, _status, _body, err in iter_warc_responses_lenient(
                    bytes(blob)
                ):
                    out["shard"].append(sid)
                    out["doc_id"].append(
                        int(uri.rsplit("/", 1)[1]) if err is None else None
                    )
                    out["ok"].append(err is None)
            yield pd.DataFrame(out)

    parsed = bf.mapInPandas(op, "shard int, doc_id long, ok boolean")
    return parsed.groupBy("shard").agg(
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_corrupt"),
        F.coalesce(F.sum(F.when(F.col("ok"), F.col("doc_id"))), F.lit(0)).alias(
            "sum_doc_id_ok"
        ),
    )


# ---------------------------------------------------------------------------
# HTTP Content-Encoding: what RFC-compliant captures actually carry

# per-shard layout (shards are 25 docs): doc_id % 25 == 24 -> the body
# claims `br` (no codec here; quarantined loud); % 25 == 11 -> a deflate
# stream torn mid-body (quarantined); everything else cycles identity /
# gzip / zlib-deflate / BARE-deflate-with-a-`deflate`-header by doc_id%4.
_CE_BR_SLOT = 24
_CE_TORN_SLOT = 11
_CE_ZSTD_SLOT = 18  # Content-Encoding: zstd (libzstd bytes, own decoder)


def _build_ce_shard(pdf, sid: int) -> bytes:
    import zlib as zlib_

    from ..operators.warc import (
        encode_http_response,
        encode_warc_record,
        gzip_member,
    )

    members = []
    for r in pdf.itertuples():
        doc_id = int(r.doc_id)
        html = _wrap_html_py(doc_id, r.text, r.lang)
        slot = doc_id % SHARD_DOCS
        if slot == _CE_BR_SLOT:
            resp = encode_http_response(html, content_encoding="br")
        elif slot == _CE_ZSTD_SLOT:
            import pyarrow as pa_

            resp = encode_http_response(
                bytes(pa_.Codec("zstd").compress(html)),
                content_encoding="verbatim:zstd",
            )
        elif slot == _CE_TORN_SLOT:
            torn = zlib_.compress(html, 6)[:-6]  # checksum+tail gone
            resp = encode_http_response(
                torn, content_encoding="verbatim:deflate"
            )
        else:
            enc = (None, "gzip", "deflate", "deflate-raw")[doc_id % 4]
            resp = encode_http_response(html, content_encoding=enc)
        rec = encode_warc_record(
            "response",
            {
                "WARC-Record-ID": f"<urn:uuid:ce-{sid}-{doc_id}>",
                "WARC-Date": "2026-01-01T00:00:00Z",
                "WARC-Target-URI": _warc_uri(r.source, doc_id),
                "Content-Type": "application/http; msgtype=response",
            },
            resp,
        )
        members.append(gzip_member(rec))
    return b"".join(members)


@register(
    "web_content_encoding",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % {SHARD_DOCS} = {_CE_BR_SLOT} THEN 'br'
                WHEN doc_id % {SHARD_DOCS} = {_CE_TORN_SLOT}
                  THEN 'deflate'
                WHEN doc_id % {SHARD_DOCS} = {_CE_ZSTD_SLOT}
                  THEN 'zstd'
                WHEN doc_id % 4 = 0 THEN ''
                WHEN doc_id % 4 = 1 THEN 'gzip'
                ELSE 'deflate' END AS content_encoding,
           (doc_id % {SHARD_DOCS} IN ({_CE_BR_SLOT}, {_CE_TORN_SLOT}))
             AS quarantined,
           CASE WHEN doc_id % {SHARD_DOCS}
                     IN ({_CE_BR_SLOT}, {_CE_TORN_SLOT}) THEN NULL
                ELSE trim(regexp_replace(text, '\\s+', ' ', 'g')) END
             AS extracted
    FROM documents
    """,
    doc="HTTP Content-Encoding in the WARC payload walk (RFC 9110 §8.4) "
    "— real RFC-compliant captures compress response bodies at the HTTP "
    "layer, independent of the per-record gzip member, so a byte-walk "
    "that hashes/extracts the raw payload is wrong on most of a real "
    "crawl: the staged corpus cycles identity / gzip / RFC-correct "
    "zlib-deflate / the infamous BARE-deflate-under-a-deflate-header "
    "(the broken-server shape browsers sniff) — plus, since r14b, "
    "Content-Encoding: zstd (the RFC-registered coding Chrome ships), "
    "staged with LIBZSTD bytes and decoded by the own RFC 8878 codec, "
    "a reference-vs-own differential inside the crawl walk — and the "
    "decoder "
    "(operators/warc.decode_content_encoding) must recover the EXACT "
    "original text from all four — an identity kernel fails the hash on "
    "three of them by construction. Two hostile classes per shard stay "
    "one-record-loud through the encoded walk "
    "(iter_warc_responses_encoded): a `br` body (no brotli codec in "
    "this environment — NotImplementedError) and a deflate stream torn "
    "mid-body (zlib.error wrapped to ValueError); both keep their URI "
    "and status because the WARC framing is intact, so the quarantine "
    "row still names the document. Scale shape: map-only Arrow kernel "
    "over shard blobs, per-record decode, no shuffle before the scan "
    "boundary — the plan is warc_web_ingest's.",
)
def web_content_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_shard_files(spark, sf_dir, "warc_ce", _build_ce_shard)
    bf = read_blobs(spark, path, "warc.gz").select("content")

    def op(batches):
        import pandas as pd

        from ..operators.warc import iter_warc_responses_encoded

        for pdf in batches:
            out = {"doc_id": [], "content_encoding": [], "quarantined": [],
                   "html": []}
            for blob in pdf["content"]:
                for uri, _status, _te, ce, body, err in (
                    iter_warc_responses_encoded(bytes(blob))
                ):
                    out["doc_id"].append(int(uri.rsplit("/", 1)[1]))
                    out["content_encoding"].append(ce)
                    out["quarantined"].append(err is not None)
                    out["html"].append(
                        body.decode("utf-8") if err is None else None
                    )
            yield pd.DataFrame(out)

    parsed = bf.mapInPandas(
        op,
        "doc_id long, content_encoding string, quarantined boolean, "
        "html string",
    )
    return parsed.select(
        "doc_id",
        "content_encoding",
        "quarantined",
        extract_html_text(F.col("html")).alias("extracted"),
    )


@register(
    "stream_warc_ingest",
    oracle="""
    SELECT doc_id,
           'https://www.' || source || '.example.com/articles/' || doc_id
             AS target_uri,
           (CASE WHEN doc_id % 10 = 7 THEN 404 ELSE 200 END)::INT AS http_status,
           trim(regexp_replace(text, '\\s+', ' ', 'g')) AS extracted
    FROM documents
    """,
    doc="STREAMING crawl ingestion — the Auto-Loader-shaped counterpart "
    "to warc_web_ingest: the same staged .warc.gz shards are consumed "
    "through readStream.format('binaryFile') with maxFilesPerTrigger "
    "bounding each micro-batch to a handful of shards, parsed per batch "
    "by the SAME _parse_warc_frame definition (one parser for batch and "
    "streaming), and appended to the target lake; the accumulated target "
    "must hash-equal the batch ingest, which per-shard independence "
    "makes exact under any batching. At 100 TB this is how a live crawl "
    "becomes training data: the file-listing source checkpoints "
    "progress, each trigger decodes a bounded set of shards, a torn "
    "shard fails its record (or flows through the lenient quarantine "
    "path), and the stream keeps going.",
)
def stream_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..session import ensure_session_confs

    ensure_session_confs(spark)
    feed = _stage_warc_shards(spark, sf_dir)
    target = run_dir("warc_stream_target", sf_dir)
    chk = run_dir("warc_stream_chk", sf_dir)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.warc.gz")
        .option("maxFilesPerTrigger", 5)
        .load(feed)
        .select("content")
    )

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        _parse_warc_frame(batch_df).write.mode("append").parquet(target)

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
    return spark.read.parquet(target)


def _lang_stats_parts(frame):
    """Per-language PARTIAL stats for one crawl batch: everything the
    final merge needs, carrying the exact domain set (bounded here; at
    real scale swap in the mergeable HLL sketch the serving layer's
    sketch_hll_partitioned_union already demonstrates)."""
    from ..operators import text as TX

    gated = frame.filter(F.col("http_status") == 200).withColumn(
        "n_words", F.size(F.split(F.col("extracted"), " "))
    ).filter(F.col("n_words") >= _MIN_WORDS)
    return (
        gated.select(
            TX.lang_id(F.col("extracted")).alias("lang_pred"),
            "n_words",
            F.regexp_extract("target_uri", "^https://www\\.([^/]+)", 1).alias(
                "domain"
            ),
        )
        .groupBy("lang_pred")
        .agg(
            F.count("*").alias("p_docs"),
            F.sum("n_words").alias("p_tokens"),
            F.collect_set("domain").alias("p_domains"),
        )
    )


@register(
    "pipeline_web_corpus_incremental",
    oracle=_web_capstone_oracle(),
    doc="Incremental corpus refresh for the web family — the property a "
    "100 TB operator actually relies on: per-language stats computed on "
    "a BASE crawl batch and a DELTA batch separately, then MERGED "
    "(counts and token sums add; the distinct-domain count does NOT — "
    "overlapping domains appear in both batches, so the partials carry "
    "the domain set and the merge unions before counting, exactly the "
    "bug a sum-the-distincts shortcut would ship; mean length is "
    "re-derived from merged sums, never averaged averages). The oracle "
    "is the SAME direct full-corpus SQL as pipeline_web_corpus, so the "
    "driver value-checks merge == recompute. The split is doc_id-hash "
    "based (first 60%% of shards as base), mirroring a prior crawl plus "
    "a new drop. At scale the domain set becomes an HLL sketch (union-"
    "mergeable, demonstrated in sketch_hll_partitioned_union) and the "
    "partials become the stored silver table a refresh reads instead of "
    "the raw corpus.",
)
def pipeline_web_corpus_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_warc_shards(spark, sf_dir)
    bf = read_blobs(spark, path, "warc.gz").select("path", "content")
    # shard-granular split: base = prior crawl, delta = the new drop
    shard_no = F.regexp_extract("path", r"(\d+)\.warc\.gz$", 1).cast("int")
    n_shards = bf.count()
    cut = int(n_shards * 0.6)
    base = _parse_warc_frame(bf.filter(shard_no < cut).select("content"))
    delta = _parse_warc_frame(bf.filter(shard_no >= cut).select("content"))

    parts = _lang_stats_parts(base).unionByName(_lang_stats_parts(delta))
    return parts.groupBy("lang_pred").agg(
        F.sum("p_docs").alias("n_docs"),
        F.sum("p_tokens").alias("n_tokens"),
        F.size(F.array_distinct(F.flatten(F.collect_list("p_domains"))))
        .cast("long")
        .alias("n_domains"),
        F.round(F.sum("p_tokens") / F.sum("p_docs"), 2).alias("avg_words"),
    )


# ---------------------------------------------------------------------------
# legacy-charset crawl ingestion (r10 verdict #3): real RU crawl shards
# are Windows-1251 / KOI8-R about as often as UTF-8 — the reference
# pipeline's whole domain is Russian-market systems, so a UTF-8-only
# ingest silently mangles exactly its documents. operators/charset.py
# implements the WHATWG-order detection cascade (BOM > HTTP charset >
# meta prescan > UTF-8 validity > Cyrillic byte-distribution) and strict
# transcoding.

_CHARSET_SUFFIX = (
    " Съешь же ещё этих мягких французских булок да выпей чаю номер "
)
# per-doc staging plan, cycled doc_id % 5:
#   0: UTF-8 + BOM, no declaration            -> detected via 'bom'
#   1: Windows-1251, charset in HTTP header   -> 'http'
#   2: KOI8-R, <meta charset> in the prescan  -> 'meta'
#   3: Windows-1251, NO declaration           -> 'heuristic' (0xE0-0xFF)
#   4: KOI8-R, NO declaration                 -> 'heuristic' (0xC0-0xDF)
_CHARSET_OF = ("utf-8", "windows-1251", "koi8-r", "windows-1251", "koi8-r")
_METHOD_OF = ("bom", "http", "meta", "heuristic", "heuristic")


def _build_charset_shard(pdf, sid: int) -> bytes:
    import codecs

    from ..operators.warc import encode_warc_shard

    records = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        did = int(doc_id)
        full = f"{text}{_CHARSET_SUFFIX}{did}."
        case = did % 5
        meta = '<meta charset="koi8-r">' if case == 2 else ""
        page = f"<html><head>{meta}</head><body>{full}</body></html>"
        enc = {"utf-8": "utf-8", "windows-1251": "cp1251",
               "koi8-r": "koi8_r"}[_CHARSET_OF[case]]
        body = page.encode(enc)
        if case == 0:
            body = codecs.BOM_UTF8 + body
        ctype = (
            "text/html; charset=windows-1251" if case == 1 else "text/html"
        )
        records.append((f"https://legacy.ru.example/{did}", body, 200, ctype))
    return encode_warc_shard(records, sid)


@register(
    "web_charset_ingest",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             text || '{_CHARSET_SUFFIX}' || doc_id || '.' AS full_text
      FROM documents)
    SELECT doc_id,
      CASE doc_id % 5
        WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1251'
        WHEN 2 THEN 'koi8-r' WHEN 3 THEN 'windows-1251'
        ELSE 'koi8-r' END AS charset,
      CASE doc_id % 5
        WHEN 0 THEN 'bom' WHEN 1 THEN 'http' WHEN 2 THEN 'meta'
        ELSE 'heuristic' END AS method,
      length(full_text) AS n_chars,
      ('0x' || substr(md5(full_text), 1, 8))::BIGINT AS md5_head
    FROM b
    """,
    doc="Legacy-charset crawl ingestion — the RU-web reality the "
    "reference's domain implies (its extractors target Russian-market "
    "systems; real RU crawl shards are Windows-1251/KOI8-R as often as "
    "UTF-8): each document's page is staged into genuine .warc.gz "
    "shards encoded per a 5-way cycle (UTF-8+BOM with no declaration; "
    "cp1251 declared only in the HTTP Content-Type; KOI8-R declared "
    "only in a <meta charset> prescan tag; cp1251 and KOI8-R with NO "
    "declaration at all), every page carrying a Cyrillic pangram "
    "suffix so the byte-distribution fallback has real signal. The "
    "kernel runs the WHATWG-order cascade (operators/charset.py: BOM > "
    "HTTP charset param > 1024-byte meta prescan > strict-UTF-8 "
    "validity > the classic cp1251-vs-KOI8 lowercase-block heuristic — "
    "the two encodings SWAP their Cyrillic case ranges, 0xE0-0xFF vs "
    "0xC0-0xDF), transcodes strictly, and recovers the body text; the "
    "oracle recomputes the detected charset AND method from the cycle "
    "formula and the recovered text's exact md5 from the base table — "
    "mojibake (e.g. decoding cp1251 bytes as KOI8-R yields valid but "
    "WRONG Cyrillic) flips the hash. Undecodable bytes and unknown "
    "declared labels raise per record (quarantine, never silent "
    "corruption). Scale: detection reads at most the page's own bytes "
    "map-side; the cascade is branch-cheap and shard-parallel like "
    "every WARC ingest.",
)
def web_charset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_shard_files(
        spark, sf_dir, "charset_shards", _build_charset_shard
    )
    bf = read_blobs(spark, path, "warc.gz").select("content")

    def op(batches):
        import hashlib as _hl
        import re as _re

        import pandas as pd

        from ..operators.charset import detect_charset, transcode_to_text
        from ..operators.warc import iter_warc_responses_raw_ctype

        body_re = _re.compile(r"<body>(.*)</body>", _re.S)
        for pdf in batches:
            out = {
                "doc_id": [], "charset": [], "method": [],
                "n_chars": [], "md5_head": [],
            }
            for blob in pdf["content"]:
                for uri, _status, ctype, body in iter_warc_responses_raw_ctype(
                    bytes(blob)
                ):
                    cs, method = detect_charset(body, ctype)
                    page = transcode_to_text(body, cs)
                    m = body_re.search(page)
                    if not m:
                        raise ValueError(f"charset: no <body> in {uri}")
                    full = m.group(1)
                    out["doc_id"].append(int(uri.rsplit("/", 1)[1]))
                    out["charset"].append(cs)
                    out["method"].append(method)
                    out["n_chars"].append(len(full))
                    out["md5_head"].append(
                        int(_hl.md5(full.encode("utf-8")).hexdigest()[:8], 16)
                    )
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, charset string, method string, n_chars long, "
        "md5_head long",
    )


_MISLABEL_MOD = 7


def _build_mislabeled_charset_shard(pdf, sid: int) -> bytes:
    import codecs

    from ..operators.warc import encode_warc_shard

    records = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        did = int(doc_id)
        full = f"{text}{_CHARSET_SUFFIX}{did}."
        if did % _MISLABEL_MOD == 2:
            # the real-world damage class: the HTTP header LIES — it
            # declares utf-8 but the bytes are cp1251 Cyrillic, so the
            # strict transcode must raise and quarantine the record
            page = f"<html><head></head><body>{full}</body></html>"
            records.append(
                (
                    f"https://legacy.ru.example/{did}",
                    page.encode("cp1251"),
                    200,
                    "text/html; charset=utf-8",
                )
            )
            continue
        case = did % 5
        meta = '<meta charset="koi8-r">' if case == 2 else ""
        page = f"<html><head>{meta}</head><body>{full}</body></html>"
        enc = {"utf-8": "utf-8", "windows-1251": "cp1251",
               "koi8-r": "koi8_r"}[_CHARSET_OF[case]]
        body = page.encode(enc)
        if case == 0:
            body = codecs.BOM_UTF8 + body
        ctype = (
            "text/html; charset=windows-1251" if case == 1 else "text/html"
        )
        records.append((f"https://legacy.ru.example/{did}", body, 200, ctype))
    return encode_warc_shard(records, sid)


@register(
    "web_charset_quarantine",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             text || '{_CHARSET_SUFFIX}' || doc_id || '.' AS full_text,
             doc_id % {_MISLABEL_MOD} = 2 AS lied
      FROM documents)
    SELECT doc_id,
      CASE WHEN lied THEN 'mislabeled' ELSE 'ok' END AS status,
      CASE WHEN lied THEN NULL ELSE length(full_text) END AS n_chars,
      CASE WHEN lied THEN NULL
           ELSE ('0x' || substr(md5(full_text), 1, 8))::BIGINT END AS md5_head
    FROM b
    """,
    doc="Mislabeled-charset quarantine — the damage class the strict "
    "transcode contract exists for: every "
    f"doc_id%{_MISLABEL_MOD}==2 record is staged with an HTTP header "
    "that LIES (declares utf-8 over cp1251 Cyrillic bytes), the exact "
    "shape real misconfigured RU servers emit. The detection cascade "
    "correctly believes the header (declared evidence outranks "
    "byte-sniffing, per WHATWG), the strict transcode then raises, and "
    "the kernel routes the record to a status column — one mislabeled "
    "page costs one record, never the job, and NEVER silent mojibake "
    "(a lenient decoder would emit wrong Cyrillic that poisons the "
    "corpus invisibly). Healthy records still recover byte-exact text "
    "(md5-checked); the oracle knows exactly which records lied, so "
    "both the quarantine set and every survivor are value-checked.",
)
def web_charset_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_shard_files(
        spark, sf_dir, "charset_torn_shards", _build_mislabeled_charset_shard
    )
    bf = read_blobs(spark, path, "warc.gz").select("content")

    def op(batches):
        import hashlib as _hl
        import re as _re

        import pandas as pd

        from ..operators.charset import detect_charset, transcode_to_text
        from ..operators.warc import iter_warc_responses_raw_ctype

        body_re = _re.compile(r"<body>(.*)</body>", _re.S)
        for pdf in batches:
            out = {"doc_id": [], "status": [], "n_chars": [], "md5_head": []}
            for blob in pdf["content"]:
                for uri, _st, ctype, body in iter_warc_responses_raw_ctype(
                    bytes(blob)
                ):
                    did = int(uri.rsplit("/", 1)[1])
                    out["doc_id"].append(did)
                    try:
                        cs, _method = detect_charset(body, ctype)
                        page = transcode_to_text(body, cs)
                        full = body_re.search(page).group(1)
                    except ValueError:
                        out["status"].append("mislabeled")
                        out["n_chars"].append(None)
                        out["md5_head"].append(None)
                        continue
                    out["status"].append("ok")
                    out["n_chars"].append(len(full))
                    out["md5_head"].append(
                        int(_hl.md5(full.encode("utf-8")).hexdigest()[:8], 16)
                    )
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, status string, n_chars long, md5_head long",
    )


# ---------------------------------------------------------------------------
# readability-style main-content extraction (boilerpipe-class scoring)

_MAIN_DENSITY_MAX = 0.34  # keep a block iff link_density < this


def _render_blocked_page(doc_id, text, norm):
    """Deterministic five-block page: a link-dense nav, article
    paragraph 1, a sponsored aside, article paragraph 2 (whose FIRST
    word is wrapped in an inline <a> so the classifier must be
    density-based, not links==0), and a footer.  The article halves are
    word-splits of the normalized text, so kept-block reassembly must
    equal it exactly.  Spaces ride as &nbsp; (the house render trick)
    so tag-stripping cannot manufacture word boundaries."""
    words = F.split(norm, " ")
    k = (F.size(words) / 2).cast("int")
    p1 = F.array_join(F.slice(words, 1, k), " ")
    p2 = F.array_join(F.slice(words, k + 1, F.size(words) - k), " ")
    nb = lambda c: F.regexp_replace(c, " ", "&nbsp;")  # noqa: E731
    p2_first = F.regexp_extract(p2, "^(\\S+)", 1)
    p2_rest = F.expr("substring(p2_full, length(p2_first) + 1)")
    nav_links = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), (F.lit(1) + doc_id % 3).cast("int")),
            lambda j: F.concat(
                F.lit('<a href="/nav/'), j.cast("string"),
                F.lit('">menu</a>'),
            ),
        ),
    )
    return F.concat(
        F.lit("<html><body><nav>"), nav_links, F.lit("</nav><p>"),
        nb(p1),
        F.lit('</p><aside>Sponsored <a href="/x">deal</a> '
              '<a href="/y">buy</a></aside><p>'),
        F.concat(F.lit('<a href="/rel">'), p2_first, F.lit("</a>"),
                 nb(p2_rest)),
        F.lit('</p><footer><a href="/tos">terms</a> '
              '<a href="/priv">privacy</a> rights</footer></body></html>'),
    )


@register(
    "web_main_content",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
      FROM documents)
    SELECT doc_id,
           5 AS n_blocks,
           2 AS n_kept,
           CAST(5 + doc_id % 3 AS INT) AS dropped_links,
           1 AS main_exact,
           CAST(len(string_split(t, ' ')) AS INT) AS n_words
    FROM norm
    """,
    doc="Readability-style MAIN-CONTENT extraction (boilerpipe-class "
    "block scoring, r12 verdict #8) — what a production corpus "
    "actually trains on is not tag-stripped soup but the article: "
    "pages render in-plan with five block-level segments (link-dense "
    "nav, article paragraph, sponsored aside, a second article "
    "paragraph whose FIRST word carries an inline link, footer), "
    "blocks are isolated by a backreference regexp "
    "(<(nav|p|aside|footer)>...</\\\\1>) and posexploded, and each "
    "block scores PURE-JVM: words from the tag-stripped entity-decoded "
    f"inner text, link density = links/words, keep iff density < "
    f"{_MAIN_DENSITY_MAX}. The inline article link makes a links==0 "
    "classifier fail (that block must survive at ~1/40 density) while "
    "nav (1.0), aside (0.67) and footer (0.67) must drop; kept blocks "
    "reassemble IN ORDER and the oracle demands exact equality with "
    "the normalized source text, plus the dropped blocks' total link "
    "count from the staging formula — a block-isolation, scoring, or "
    "ordering bug flips a value. Zero Python anywhere: map-side "
    "regexp/array algebra into one groupBy(doc_id), the same scale "
    "shape as text_html_extract.",
)
def web_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.trim(F.regexp_replace("text", "\\s+", " "))
    words = F.split(norm, " ")
    k = (F.size(words) / 2).cast("int")
    base = d.select(
        "doc_id",
        norm.alias("norm"),
        F.array_join(F.slice(words, 1, k), " ").alias("p1_full"),
        F.array_join(
            F.slice(words, k + 1, F.size(words) - k), " "
        ).alias("p2_full"),
    ).withColumn("p2_first", F.regexp_extract("p2_full", "^(\\S+)", 1))
    page = base.select(
        "doc_id",
        "norm",
        _render_blocked_page(
            F.col("doc_id"), F.col("norm"), F.col("norm")
        ).alias("html"),
    )
    blocks = page.select(
        "doc_id",
        "norm",
        F.posexplode(
            F.regexp_extract_all(
                "html", F.lit("<(nav|p|aside|footer)>.*?</\\1>"), 0
            )
        ).alias("pos", "block"),
    )
    inner = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("block", "<[^>]+>", " "), "&nbsp;", " "
            ),
            "\\s+",
            " ",
        )
    )
    scored = blocks.select(
        "doc_id",
        "norm",
        "pos",
        inner.alias("txt"),
        F.regexp_count("block", F.lit("<a href")).alias("n_links"),
    ).withColumn(
        "n_words",
        F.when(F.col("txt") == "", 0).otherwise(
            F.size(F.split("txt", " "))
        ),
    ).withColumn(
        "keep",
        (F.col("n_links") / F.greatest(F.col("n_words"), F.lit(1)))
        < _MAIN_DENSITY_MAX,
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
            F.sum(F.when(~F.col("keep"), F.col("n_links")).otherwise(0))
            .cast("int")
            .alias("dropped_links"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("pos", F.col("txt").alias("t")),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                " ",
            ).alias("main_text"),
            F.first("norm").alias("norm"),
        )
        .select(
            "doc_id",
            F.col("n_blocks").cast("int").alias("n_blocks"),
            F.col("n_kept").cast("int").alias("n_kept"),
            "dropped_links",
            (F.col("main_text") == F.col("norm")).cast("int").alias(
                "main_exact"
            ),
            F.size(F.split("norm", " ")).alias("n_words"),
        )
    )


# ---------------------------------------------------------------------------
# HTTP Transfer-Encoding: chunked wire framing (RFC 9112 §7.1)

_TE_TORN_SLOT = 17  # doc_id % 25 == 17 -> chunk framing torn mid-wire


def _build_te_shard(pdf, sid: int) -> bytes:
    from ..operators.warc import (
        encode_http_response,
        encode_warc_record,
        gzip_member,
    )

    members = []
    for r in pdf.itertuples():
        doc_id = int(r.doc_id)
        html = _wrap_html_py(doc_id, r.text, r.lang)
        slot = doc_id % SHARD_DOCS
        if slot == _TE_TORN_SLOT:
            whole = encode_http_response(html, chunked=True)
            head, _, wire = whole.partition(b"\r\n\r\n")
            resp = head + b"\r\n\r\n" + wire[: int(len(wire) * 0.6)]
        else:
            kind = doc_id % 4
            resp = encode_http_response(
                html,
                content_encoding=("gzip" if kind == 2
                                  else "deflate" if kind == 3 else None),
                chunked=kind in (1, 2),
            )
        members.append(gzip_member(encode_warc_record(
            "response",
            {
                "WARC-Record-ID": f"<urn:uuid:te-{sid}-{doc_id}>",
                "WARC-Date": "2026-01-01T00:00:00Z",
                "WARC-Target-URI": _warc_uri(r.source, doc_id),
                "Content-Type": "application/http; msgtype=response",
            },
            resp,
        )))
    return b"".join(members)


@register(
    "web_transfer_encoding",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % {SHARD_DOCS} = {_TE_TORN_SLOT}
                  THEN 'chunked'
                WHEN doc_id % 4 IN (1, 2) THEN 'chunked'
                ELSE '' END AS transfer_encoding,
           CASE WHEN doc_id % {SHARD_DOCS} = {_TE_TORN_SLOT}
                  THEN ''
                WHEN doc_id % 4 = 2 THEN 'gzip'
                WHEN doc_id % 4 = 3 THEN 'deflate'
                ELSE '' END AS content_encoding,
           (doc_id % {SHARD_DOCS} = {_TE_TORN_SLOT})
             AS quarantined,
           CASE WHEN doc_id % {SHARD_DOCS} = {_TE_TORN_SLOT}
                THEN NULL
                ELSE trim(regexp_replace(text, '\\s+', ' ', 'g')) END
             AS extracted
    FROM documents
    """,
    doc="HTTP Transfer-Encoding: chunked in the WARC payload walk "
    "(RFC 9112 §7.1) — the OTHER wire layer real captures store "
    "verbatim, and the natural sibling of web_content_encoding: a "
    "reader that skips dechunking hashes hex size lines and CRLF "
    "framing into the document text. The staged corpus cycles plain / "
    "chunked / chunked-OVER-gzip (Transfer-Encoding wraps the content "
    "coding — the composition order RFC 9110 prescribes and naive "
    "single-pass decoders get backwards) / content-length+deflate; "
    "chunk frames carry an extension (;x=1) and a trailer field, both "
    "of which the spec says to ignore. One record per shard stages "
    "with its chunk framing TORN mid-wire and must quarantine alone "
    "with its URI preserved (the WARC framing is intact). Exact text "
    "recovery demanded through the same JVM extraction chain. Scale: "
    "warc_web_ingest's map-only plan.",
)
def web_transfer_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_shard_files(spark, sf_dir, "warc_te", _build_te_shard)
    bf = read_blobs(spark, path, "warc.gz").select("content")

    def op(batches):
        import pandas as pd

        from ..operators.warc import iter_warc_responses_encoded

        for pdf in batches:
            out = {"doc_id": [], "transfer_encoding": [],
                   "content_encoding": [], "quarantined": [], "html": []}
            for blob in pdf["content"]:
                for uri, _status, te, ce, body, err in (
                    iter_warc_responses_encoded(bytes(blob))
                ):
                    out["doc_id"].append(int(uri.rsplit("/", 1)[1]))
                    out["transfer_encoding"].append(te)
                    out["content_encoding"].append(ce)
                    out["quarantined"].append(err is not None)
                    out["html"].append(
                        body.decode("utf-8") if err is None else None
                    )
            yield pd.DataFrame(out)

    parsed = bf.mapInPandas(
        op,
        schema="doc_id long, transfer_encoding string, "
        "content_encoding string, quarantined boolean, html string",
    )
    return parsed.select(
        "doc_id",
        "transfer_encoding",
        "content_encoding",
        "quarantined",
        extract_html_text(F.col("html")).alias("extracted"),
    )
