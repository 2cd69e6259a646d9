"""Web REP surfaces, corpus hygiene, BSON shards — one family of the file-
format sources (see the package docstring)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table
from ...registry import register
from ...sources.files import BINARYFILE_SCHEMA, read_blobs, stage_doc_files
from ...workdir import run_dir

from .formats_media import _CORRUPT_MOD

from .formats_office import (  # noqa: F401 — shared helpers
    rep_pattern_rx,
)


@register(
    "web_robots_gate",
    oracle="""
    WITH u AS (
      SELECT doc_id, source AS host,
        CASE WHEN doc_id % 5 = 0 THEN '/private/doc' || doc_id
             WHEN doc_id % 7 = 0 THEN '/tmp/doc' || doc_id
             ELSE '/docs/doc' || doc_id END AS path,
        CAST(replace(source, 'src', '') AS INT) AS hn
      FROM documents),
    rules AS (
      SELECT h.hn, r.rule_path, r.rule_rx, r.allow
      FROM (SELECT DISTINCT hn FROM u) h,
      LATERAL (
        SELECT * FROM (VALUES
          ('/private/', '^/private/', 0, 0), ('/tmp', '^/tmp', 0, 0),
          ('/', '^/', 1, 0), ('/docs/', '^/docs/', 1, 1),
          ('/docs/', '^/docs/', 2, 0), ('/docs/', '^/docs/', 2, 1),
          ('/docs/*7$', '^/docs/.*7$', 3, 0),
          ('/private/doc*0$', '^/private/doc.*0$', 4, 1),
          ('/*mp/', '^/.*mp/', 5, 1)
        ) AS v(rule_path, rule_rx, cond, allow)
        WHERE v.cond = 0
           OR (v.cond = 1 AND h.hn % 2 = 1)
           OR (v.cond = 2 AND h.hn % 4 = 1)
           OR (v.cond = 3 AND h.hn % 5 = 2)
           OR (v.cond = 4 AND h.hn % 10 = 0)
           OR (v.cond = 5 AND h.hn % 4 = 2)
      ) r),
    matched AS (
      SELECT u.doc_id, u.host, u.path, r.rule_path, r.allow
      FROM u LEFT JOIN rules r
        ON r.hn = u.hn AND regexp_matches(u.path, r.rule_rx)),
    verdict AS (
      SELECT doc_id, host, path,
        CASE WHEN max(rule_path) IS NULL THEN 1
             ELSE arg_max(allow, 2 * length(rule_path) + allow)
             END AS allowed
      FROM matched GROUP BY 1, 2, 3)
    SELECT doc_id, host, path, CAST(allowed AS INT) AS allowed
    FROM verdict
    """,
    doc="robots.txt compliance gate (REP, RFC 9309 / Google's "
    "published matcher) — the crawl-pipeline step C4/CCNet apply "
    "before fetching: per-host rule sets joined to candidate URLs "
    "with the LONGEST-MATCH rule winning and ties broken toward "
    "Allow (the two semantics naive any-disallow matchers get "
    "wrong, both exercised: odd-numbered hosts carry a blanket "
    "'Disallow: /' that a longer 'Allow: /docs/' overrides, and "
    "hosts ≡1 mod 4 carry equal-length Allow/Disallow on '/docs/' "
    "where the tie must go to Allow). WILDCARD patterns — RFC 9309 "
    "§2.2.3 '*' (any octet run) and trailing '$' (end anchor), which "
    "real robots.txt use constantly and which were r11's documented "
    "seam — now match natively (r11 verdict #3): every rule compiles "
    "to an anchored regex (rep_pattern_rx; mid-pattern '$' stays "
    "literal) and specificity counts the PATTERN's octets per the "
    "RFC's most-octets rule, wildcards included.  Three staged "
    "wildcard shapes each FLIP at least one verdict vs prefix-only "
    "matching: hosts ≡2 mod 5 disallow '/docs/*7$' (a longer match "
    "than their other rules, so doc ids ending in 7 flip to blocked); "
    "hosts ≡0 mod 10 allow '/private/doc*0$' over the blanket "
    "'/private/' disallow; hosts ≡2 mod 4 allow '/*mp/' which "
    "out-specifies the literal '/tmp' disallow by one octet. URLs "
    "with NO matching rule default to allowed. Pure JVM: a literal "
    "broadcast rules table, regexp_like-filtered hash join, and "
    "max_by over (pattern length, allow) — the oracle replicates "
    "with DuckDB regexp_matches + arg_max over the same tuple. "
    "Scale: rules tables are KB-sized per host — a broadcast join "
    "against billions of frontier URLs, no skew (the build side is "
    "the tiny one), exactly how a 100 TB frontier filter should "
    "shape.",
)
def web_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    hn = F.regexp_replace("source", "src", "").cast("int")
    urls = d.select(
        "doc_id",
        F.col("source").alias("host"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("/private/doc"), F.col("doc_id")),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("/tmp/doc"), F.col("doc_id")),
        )
        .otherwise(F.concat(F.lit("/docs/doc"), F.col("doc_id")))
        .alias("path"),
        hn.alias("hn"),
    )
    base = [("/private/", 0, 0), ("/tmp", 0, 0)]
    odd = [("/", 1, 0), ("/docs/", 1, 1)]
    tie = [("/docs/", 2, 0), ("/docs/", 2, 1)]
    wild = [
        ("/docs/*7$", 3, 0),
        ("/private/doc*0$", 4, 1),
        ("/*mp/", 5, 1),
    ]
    rules_all = spark.createDataFrame(
        [(p, rep_pattern_rx(p), c, a) for p, c, a in base + odd + tie + wild],
        "rule_path string, rule_rx string, cond int, allow int",
    )
    hosts = urls.select("hn").distinct()
    rules = hosts.crossJoin(F.broadcast(rules_all)).where(
        (F.col("cond") == 0)
        | ((F.col("cond") == 1) & (F.col("hn") % 2 == 1))
        | ((F.col("cond") == 2) & (F.col("hn") % 4 == 1))
        | ((F.col("cond") == 3) & (F.col("hn") % 5 == 2))
        | ((F.col("cond") == 4) & (F.col("hn") % 10 == 0))
        | ((F.col("cond") == 5) & (F.col("hn") % 4 == 2))
    ).select("hn", "rule_path", "rule_rx", "allow")
    matched = urls.join(
        F.broadcast(rules).withColumnRenamed("hn", "rhn"),
        (F.col("hn") == F.col("rhn"))
        & F.expr("regexp_like(path, rule_rx)"),
        "left",
    )
    verdict = matched.groupBy("doc_id", "host", "path").agg(
        F.when(F.max("rule_path").isNull(), F.lit(1))
        .otherwise(
            F.max_by(
                "allow", F.lit(2) * F.length("rule_path") + F.col("allow")
            )
        )
        .cast("int")
        .alias("allowed")
    )
    return verdict.select("doc_id", "host", "path", "allowed")
def _render_feed(doc_id: int, text: str) -> bytes:
    n = 1 + doc_id % 4
    base = f"https://src{doc_id % 20}.example/docs/doc{doc_id}"
    if doc_id % 2 == 0:  # Atom
        entries = "".join(
            f"<entry><title>entry {i}</title>"
            f'<link href="{base}-{i}"/>'
            f"<updated>2026-01-0{i + 1}T00:00:00Z</updated></entry>"
            for i in range(n)
        )
        xml = (
            '<feed xmlns="http://www.w3.org/2005/Atom">'
            f"<title>feed {doc_id}</title>{entries}</feed>"
        )
    else:  # RSS 2.0
        items = "".join(
            f"<item><title>entry {i}</title><link>{base}-{i}</link>"
            f"<pubDate>Thu, 0{i + 1} Jan 2026 00:00:00 +0000</pubDate>"
            "</item>"
            for i in range(n)
        )
        xml = (
            '<rss version="2.0"><channel>'
            f"<title>feed {doc_id}</title>{items}</channel></rss>"
        )
    return xml.encode("utf-8")
_ATOM_SCHEMA = (
    "struct<title string, entry array<struct<title string, "
    "link struct<_href string>, updated string>>>"
)
_RSS_SCHEMA = (
    "struct<channel struct<title string, item array<struct<"
    "title string, link string, pubDate string>>>>"
)
@register(
    "web_feed_discovery",
    oracle="""
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'atom' ELSE 'rss' END AS kind,
      CAST(1 + doc_id % 4 AS INT) AS n_entries,
      'https://src' || (doc_id % 20) || '.example/docs/doc' || doc_id
        || '-0' AS first_url,
      'feed ' || doc_id AS feed_title
    FROM documents
    """,
    doc="Feed-based URL discovery (RSS 2.0 + Atom) — the other half of "
    "the crawl frontier beside web_robots_gate: sites announce fresh "
    "URLs through feeds, and a crawler that only follows page links "
    "misses them. Each document stages as a real feed alternating the "
    "two formats (whose layouts genuinely differ: Atom carries the "
    "URL in a link ATTRIBUTE, RSS in element text; entry vs "
    "channel/item nesting), and the parse is pure JVM via from_xml "
    "with both schemas + coalesce — a feed that parses under neither "
    "schema yields NULLs, loud in the hash. The oracle recomputes "
    "kind, entry counts, first URL, and title from the staging "
    "formulas. Scale: one-scan map-only, like the notebook and code "
    "filters; at 100 TB feed polling is an incremental source and "
    "this parse is its per-record kernel.",
)
def web_feed_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "feed_files", "xml", _render_feed
    )
    bf = (
        read_blobs(spark, path, "xml")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.xml$", 1)
            .cast("long")
            .alias("doc_id"),
            F.from_xml(
                F.decode(F.col("content"), "UTF-8"), _ATOM_SCHEMA
            ).alias("atom"),
            F.from_xml(
                F.decode(F.col("content"), "UTF-8"), _RSS_SCHEMA
            ).alias("rss"),
        )
    )
    is_atom = F.col("atom.entry").isNotNull()
    entries = F.coalesce(
        F.transform(
            F.col("atom.entry"),
            lambda e: F.struct(
                e["title"].alias("title"), e["link"]["_href"].alias("url")
            ),
        ),
        F.transform(
            F.col("rss.channel.item"),
            lambda i: F.struct(
                i["title"].alias("title"), i["link"].alias("url")
            ),
        ),
    )
    return bf.select(
        "doc_id",
        F.when(is_atom, F.lit("atom")).otherwise(F.lit("rss")).alias("kind"),
        F.size(entries).cast("int").alias("n_entries"),
        entries[0]["url"].alias("first_url"),
        F.coalesce(F.col("atom.title"), F.col("rss.channel.title"))
        .alias("feed_title"),
    )
@register(
    "corpus_deterministic_split",
    oracle="""
    WITH b AS (
      SELECT lang, n_chars,
        ('0x' || substr(md5('split-v1:' || doc_id), 1, 4))::INT % 1000
          AS bucket
      FROM documents)
    SELECT lang,
      CASE WHEN bucket < 900 THEN 'train'
           WHEN bucket < 950 THEN 'val' ELSE 'test' END AS split,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM b GROUP BY 1, 2
    """,
    doc="Deterministic train/val/test SPLIT — the reproducibility "
    "primitive every training pipeline needs: membership must be a "
    "pure function of (id, salt), never of partition order or a "
    "session seed, so re-runs, backfills, and cross-team reproduction "
    "agree row for row, and changing the salt is the only way to "
    "re-deal. Bucket = the first 16 bits of md5('split-v1:' || id) "
    "mod 1000; 900/50/50 → train/val/test. Pure JVM (md5 + conv), "
    "and the SAME formula evaluates in DuckDB, so the oracle is a "
    "true cross-engine differential on every row's membership via "
    "the per-(lang, split) doc and char totals — one misassigned "
    "document flips a hash. Scale: a stateless projection before a "
    "partial-agg groupBy; at 100 TB membership is computed where the "
    "row lives, nothing shuffles but the tiny per-(lang,split) "
    "partials; the salt-versioned key ('split-v1') is the documented "
    "re-deal knob.",
)
def corpus_deterministic_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split-v1:"),
                               F.col("doc_id").cast("string"))),
                1, 4,
            ),
            16, 10,
        ).cast("int") % 1000
    )
    split = (
        F.when(bucket < 900, F.lit("train"))
        .when(bucket < 950, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
def _render_nfkc_doc(doc_id: int, text: str) -> bytes:
    import unicodedata

    # the base corpus is NFC-clean ASCII/Cyrillic, so normalization
    # would be unobservable on it alone; the staged file appends a
    # marker carrying a compatibility ligature, a superscript, and a
    # composed Å, then ships the WHOLE document NFD-decomposed — the
    # wire shape crawled text actually arrives in (Mac uploads, old
    # editors), where naive byte-keyed dedup splits identical texts
    raw = text + " ﬁ²Å"
    return unicodedata.normalize("NFD", raw).encode("utf-8")
@register(
    "corpus_nfkc_normalize",
    oracle="""
    SELECT doc_id,
      CAST(length(text) + 5 AS BIGINT) AS n_chars,
      1 AS text_exact,
      1 AS changed
    FROM documents
    """,
    doc="Unicode NFKC normalization — the canonicalization step every "
    "dedup key needs BEFORE hashing: the same text arrives decomposed "
    "(NFD) from some producers and with compatibility characters "
    "(ligatures, superscripts) from others, and byte-keyed dedup "
    "splits what a reader sees as identical. Each staged document "
    "ships FULLY NFD-DECOMPOSED with an appended marker (U+FB01 'ﬁ', "
    "a superscript two, a composed Å); the kernel normalizes NFKC, "
    "which must simultaneously RECOMPOSE the Cyrillic/latin sequences "
    "byte-exactly back to the base text and FOLD the compatibility "
    "marker to ' fi2Å' — both demanded by the oracle (text_exact "
    "recovers text || ' fi2Å' exactly; 'changed' asserts the staged "
    "bytes really differed, so an identity kernel cannot pass). The "
    "normalizer is CPython's unicodedata (the UCD tables); DuckDB's "
    "independent ICU-based nfc_normalize agrees on the composition "
    "half (tests/test_oracle_parity.py is the differential). Scale: "
    "map-side kernel, one string op per record — the projection that "
    "runs immediately before dedup_exact's hash at 100 TB.",
)
def corpus_nfkc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "nfd_files", "txt", _render_nfkc_doc
    )
    bf = (
        read_blobs(spark, path, "txt")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import unicodedata

        import pandas as pd

        for b in batches:
            out = {
                "doc_id": [], "n_chars": [], "text_exact": [],
                "changed": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                raw = bytes(content).decode("utf-8")
                norm = unicodedata.normalize("NFKC", raw)
                out["doc_id"].append(int(doc_id))
                out["n_chars"].append(len(norm))
                out["text_exact"].append(
                    1 if norm == text + " fi2Å" else 0
                )
                out["changed"].append(1 if norm != raw else 0)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_chars long, text_exact int, changed int",
    )
def _render_canonical_page(doc_id: int, text: str) -> bytes:
    own = f"https://src{doc_id % 20}.example/docs/doc{doc_id}"
    k = doc_id - doc_id % 3
    canon = f"https://src{k % 20}.example/docs/doc{k}"
    head = "<title>doc %d</title>" % doc_id
    # a decoy link that a sloppy regexp would take for the canonical
    head += '<link rel="stylesheet" href="/style.css">'
    if doc_id % 3 != 0:
        if doc_id % 2 == 0:  # attribute order + quote style vary
            head += f'<link rel="canonical" href="{canon}">'
        else:
            head += f"<link href='{canon}' rel='canonical'>"
    body = f'<p>{text[:40]}</p><a href="{own}?utm=x">self</a>'
    return (
        f"<!doctype html><html><head>{head}</head>"
        f"<body>{body}</body></html>"
    ).encode("utf-8")
@register(
    "web_canonical_collapse",
    oracle="""
    WITH g AS (SELECT doc_id, doc_id - doc_id % 3 AS k FROM documents)
    SELECT 'https://src' || (k % 20) || '.example/docs/doc' || k
             AS canon_url,
      CAST(count(*) AS BIGINT) AS n_pages,
      CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_declared
    FROM g GROUP BY k
    """,
    doc="rel=canonical COLLAPSE — the pre-dedup URL step C4-style "
    "pipelines apply before exact dedup: pages that DECLARE a "
    "canonical (<link rel=canonical>) collapse onto it, so syndicated "
    "and parameter-varied copies count as one document. Pure JVM: the "
    "staged pages vary attribute ORDER (href-before-rel) and quote "
    "style, and carry a stylesheet <link> decoy plus an <a href> that "
    "a sloppy one-regex extractor would take for the canonical — the "
    "extraction first isolates the rel=canonical TAG (either "
    "attribute order) and only then pulls its href; pages without a "
    "declaration collapse onto their own URL. Every third document is "
    "the canonical target of its triple, so group sizes, declared "
    "counts, and the canonical URLs themselves are all recomputed by "
    "the oracle. Scale: scan → two regexps → one groupBy on the "
    "canonical key — the standard pre-dedup projection, map-side "
    "until the final partial-agg shuffle.",
)
def web_canonical_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "canonical_files", "html", _render_canonical_page
    )
    bf = (
        read_blobs(spark, path, "html")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.html$", 1)
            .cast("long")
            .alias("doc_id"),
            F.decode(F.col("content"), "UTF-8").alias("html"),
        )
    )
    # isolate the rel=canonical tag first (either attribute order),
    # then pull its href — one combined regexp per order, decoys never
    # match because they lack rel=canonical inside the SAME tag
    tag = F.coalesce(
        F.regexp_extract(
            "html", r"""<link[^>]*rel=["']canonical["'][^>]*>""", 0
        ),
        F.lit(""),
    )
    href = F.regexp_extract(tag, r"""href=["']([^"']+)["']""", 1)
    own = F.concat(
        F.lit("https://src"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example/docs/doc"), F.col("doc_id").cast("string"),
    )
    pages = bf.select(
        "doc_id",
        F.when(href != "", href).otherwise(own).alias("canon_url"),
        (href != "").cast("int").alias("declared"),
    )
    return pages.groupBy("canon_url").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("declared").cast("long").alias("n_declared"),
    )
_PSL_RULES = (
    "com", "org", "net", "ru", "io", "example",
    "co.uk", "org.uk", "com.au", "msk.ru",
    "github.io", "blogspot.com",   # private-registry suffixes
    "*.ck",                        # wildcard rule
    "!www.ck",                     # exception to the wildcard
    "*",                           # the spec's implicit default rule:
                                   # an unknown TLD is itself a suffix
)
@register(
    "web_registrable_domain",
    oracle="""
    WITH h AS (
      SELECT doc_id,
        CASE doc_id % 6
          WHEN 0 THEN 'a.b.src' || (doc_id % 20) || '.example'
          WHEN 1 THEN 'www.src' || (doc_id % 20) || '.example'
          WHEN 2 THEN 'src' || (doc_id % 20) || '.co.uk'
          WHEN 3 THEN 'deep.pages' || (doc_id % 20) || '.github.io'
          WHEN 4 THEN 'shop.anything.ck'
          ELSE 'portal.www.ck' END AS host
      FROM documents)
    SELECT doc_id, host,
      CASE doc_id % 6
        WHEN 0 THEN 'src' || (doc_id % 20) || '.example'
        WHEN 1 THEN 'src' || (doc_id % 20) || '.example'
        WHEN 2 THEN 'src' || (doc_id % 20) || '.co.uk'
        WHEN 3 THEN 'pages' || (doc_id % 20) || '.github.io'
        WHEN 4 THEN 'shop.anything.ck'
        ELSE 'www.ck' END AS domain
    FROM h
    """,
    doc="Registrable-domain extraction via the Public Suffix List "
    "ALGORITHM (publicsuffix.org) — the step behind C4/CCNet's "
    "per-domain caps and every crawl's politeness keying: naive "
    "'last two labels' logic calls b.co.uk's domain 'co.uk' and "
    "collapses every GitHub Pages site into one. Implemented "
    "RELATIONALLY over a broadcast rules table carrying every rule "
    "FORM (normal, multi-label, private-registry, the '*.ck' "
    "wildcard, the '!www.ck' exception): each host explodes into its "
    "candidate suffixes, wildcard rules match via a one-label "
    "prefix pattern, exception rules defeat the wildcard at higher "
    "priority, the longest matching rule wins per the spec, and the "
    "registrable domain is the suffix plus one label. The staged "
    "hosts cycle all six shapes and the oracle recomputes each "
    "expected domain. The embedded rules are a documented EXCERPT — "
    "the full PSL is a droppable data file; the algorithm is the "
    "deliverable. Scale: the rules table broadcasts (the real PSL is "
    "~240 KB); hosts explode into ≤ label-count suffix candidates; "
    "the argmax is a per-host max_by — the same broadcast-gate shape "
    "as the REP queries, linear over a billion-URL frontier.",
)
def web_registrable_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    hn = (F.col("doc_id") % 20).cast("string")
    host = (
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit("a.b.src"), hn, F.lit(".example")))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("www.src"), hn, F.lit(".example")))
        .when(F.col("doc_id") % 6 == 2,
              F.concat(F.lit("src"), hn, F.lit(".co.uk")))
        .when(F.col("doc_id") % 6 == 3,
              F.concat(F.lit("deep.pages"), hn, F.lit(".github.io")))
        .when(F.col("doc_id") % 6 == 4, F.lit("shop.anything.ck"))
        .otherwise(F.lit("portal.www.ck"))
    )
    hosts = d.select("doc_id", host.alias("host"))
    rules = spark.createDataFrame(
        [
            (
                r.lstrip("!"),
                1 if r.startswith("*.") else 0,
                1 if r.startswith("!") else 0,
                len(r.lstrip("!").split(".")),
            )
            for r in _PSL_RULES
        ],
        "rule string, wild int, exception int, n_labels int",
    )
    # explode each host into its suffix candidates: labels[i:] for i>=1
    # keeps at least one label above the suffix available
    labels = F.split(F.col("host"), r"\.")
    cands = hosts.select(
        "doc_id",
        "host",
        labels.alias("labels"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(labels) - 1),
                lambda i: F.struct(
                    F.array_join(F.slice(labels, i + 1, F.size(labels)), ".")
                    .alias("suffix"),
                    (F.size(labels) - i).alias("suffix_labels"),
                ),
            )
        ).alias("c"),
    ).select(
        "doc_id", "host", "labels",
        F.col("c.suffix").alias("suffix"),
        F.col("c.suffix_labels").alias("suffix_labels"),
    )
    matched = cands.join(
        F.broadcast(rules),
        (
            # normal / exception rules match their suffix exactly;
            # a wildcard rule '*.x' matches any ONE label + x
            ((F.col("wild") == 0) & (F.col("suffix") == F.col("rule")))
            | (
                # a wildcard rule '*.x' matches exactly one label + x;
                # the bare default rule '*' (n_labels=1) matches any
                # single-label suffix — substring_index with count 0
                # yields '' on both sides there, which is the match
                (F.col("wild") == 1)
                & (F.col("suffix_labels") == F.col("n_labels"))
                & (
                    F.expr("substring_index(suffix, '.', -(n_labels - 1))")
                    == F.expr("substring_index(rule, '.', -(n_labels - 1))")
                )
            )
        ),
        "inner",
    ).select(
        "doc_id", "host", "labels", "suffix_labels",
        # effective suffix length: an exception rule means the suffix
        # is one label SHORTER (www.ck's suffix is ck); priority:
        # exceptions beat everything, then longest rule wins
        (F.col("suffix_labels") - F.col("exception")).alias("eff_labels"),
        (F.col("exception") * 100 + F.col("n_labels")).alias("prio"),
    )
    best = matched.groupBy("doc_id", "host", "labels").agg(
        F.max_by("eff_labels", "prio").alias("eff_labels")
    )
    return best.select(
        "doc_id",
        "host",
        F.array_join(
            F.slice(
                F.col("labels"),
                F.size("labels") - F.col("eff_labels"),
                F.col("eff_labels") + 1,
            ),
            ".",
        ).alias("domain"),
    )
def _render_robots_txt(doc_id: int, text: str) -> bytes:
    """A realistic robots.txt: comments, blank lines, a '*' group, on
    even ids a specific group for our bot (named in MiXeD case, with a
    second user-agent line sharing the group on ids ≡0 mod 4), empty
    Disallow values (= no rule, per the RFC), unknown directives, and
    doc-wide Sitemap lines; CRLF on odd ids."""
    lines = [
        "# robots for src%d (doc %d)" % (doc_id % 20, doc_id),
        "",
        "User-agent: *",
        "Disallow: /private/",
        "Allow: /private/public/",
        "Crawl-delay: 2",          # unknown to RFC 9309: ignored
        "Disallow:",               # empty value: not a rule
    ]
    if doc_id % 2 == 0:
        lines += ["", "User-AGENT: SparkGraftBot"]
        if doc_id % 4 == 0:
            lines += ["user-agent: OtherBot"]
        lines += [
            "Disallow: /tmp/",
            "Disallow: /docs/*%d$" % (doc_id % 10),
        ]
    lines += ["", "Sitemap: https://src%d.example/sitemap.xml"
              % (doc_id % 20)]
    if doc_id % 3 == 0:
        lines += ["Sitemap: https://src%d.example/sitemap-news.xml"
                  % (doc_id % 20)]
    sep = "\r\n" if doc_id % 2 == 1 else "\n"
    return (sep.join(lines) + sep).encode("utf-8")
@register(
    "web_robots_parse",
    oracle="""
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'specific' ELSE 'star' END
        AS matched_group,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 2 END AS INT) AS n_rules,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT)
        AS n_disallow,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT)
        AS n_sitemaps,
      'https://src' || (doc_id % 20) || '.example/sitemap.xml'
        AS first_sitemap
    FROM documents
    """,
    doc="robots.txt PARSING (RFC 9309 §2.2 grammar) — the half of REP "
    "the gate queries consume pre-parsed: real crawls fetch the FILE "
    "and must recover groups and directives from bytes. Parsed "
    "entirely RELATIONALLY — posexplode lines, comment stripping, "
    "case-insensitive directive keys, group boundaries detected with "
    "a lag window (consecutive user-agent lines share one group, the "
    "RFC rule naive line-scanners break), rules attached to their "
    "group by a running group-id sum — zero Python anywhere. Group "
    "selection per the RFC: a group whose user-agent product token "
    "matches our bot (case-insensitively — the staged files spell it "
    "MiXeD case) wins over the '*' group; empty Disallow values are "
    "non-rules; unknown directives (Crawl-delay) are ignored; Sitemap "
    "lines are doc-wide, outside any group. The staged corpus cycles "
    "CRLF/LF, comments, shared-UA groups, and group order; every "
    "output column is recomputed by the oracle from the staging "
    "formulas. Scale: one scan, one explode, two windows keyed by "
    "(doc, line) — robots files are KB-sized, so the per-doc frames "
    "are trivially bounded; the parsed rules table is exactly what "
    "web_robots_gate/pipeline_crawl_frontier broadcast.",
)
def web_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    path = stage_doc_files(
        spark, sf_dir, "robots_files", "txt", _render_robots_txt
    )
    bf = (
        read_blobs(spark, path, "txt")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.decode(F.col("content"), "UTF-8").alias("body"),
        )
    )
    lines = bf.select(
        "doc_id",
        F.posexplode(F.split(F.col("body"), "\r?\n")).alias("pos", "raw"),
    ).select(
        "doc_id",
        "pos",
        F.trim(F.regexp_replace("raw", "#.*$", "")).alias("line"),
    ).where(F.col("line") != "")
    kv = lines.select(
        "doc_id",
        "pos",
        F.lower(F.trim(F.regexp_extract("line", r"^([^:]+):", 1)))
        .alias("key"),
        F.trim(F.regexp_extract("line", r"^[^:]+:(.*)$", 1)).alias("val"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grouped = kv.withColumn(
        "is_ua", (F.col("key") == "user-agent").cast("int")
    ).withColumn(
        "new_group",
        (
            (F.col("key") == "user-agent")
            & (F.coalesce(F.lag("key").over(w), F.lit("")) != "user-agent")
        ).cast("int"),
    ).withColumn("gid", F.sum("new_group").over(w))
    uas = (
        grouped.where(F.col("key") == "user-agent")
        .groupBy("doc_id", "gid")
        .agg(F.collect_set(F.lower("val")).alias("agents"))
    )
    # pick the group per RFC: our product token beats '*'
    pick = uas.select(
        "doc_id",
        "gid",
        F.when(
            F.array_contains("agents", "sparkgraftbot"), F.lit(2)
        ).when(F.array_contains("agents", "*"), F.lit(1))
        .otherwise(F.lit(0)).alias("rank"),
    ).where(F.col("rank") > 0)
    best = pick.groupBy("doc_id").agg(
        F.max_by("gid", F.col("rank")).alias("gid"),
        F.max("rank").alias("rank"),
    )
    rules = grouped.where(
        F.col("key").isin("allow", "disallow") & (F.col("val") != "")
    )
    rule_counts = (
        rules.join(best, ["doc_id"])
        .where(rules["gid"] == best["gid"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_rules"),
            F.sum((F.col("key") == "disallow").cast("int"))
            .cast("int").alias("n_disallow"),
        )
    )
    sitemaps = (
        grouped.where(F.col("key") == "sitemap")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_sitemaps"),
            F.min_by("val", "pos").alias("first_sitemap"),
        )
    )
    return (
        best.join(rule_counts, "doc_id").join(sitemaps, "doc_id")
        .select(
            "doc_id",
            F.when(F.col("rank") == 2, F.lit("specific"))
            .otherwise(F.lit("star")).alias("matched_group"),
            "n_rules",
            "n_disallow",
            "n_sitemaps",
            "first_sitemap",
        )
    )
@register(
    "pipeline_rep_end_to_end",
    oracle="""
    SELECT doc_id,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS INT)
        AS docs_allowed,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS INT)
        AS tmp_allowed,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
        AS private_allowed
    FROM documents
    """,
    doc="REP END-TO-END — robots.txt BYTES to fetch verdicts in one "
    "plan, closing the loop the pieces cover separately (parse: "
    "web_robots_parse; match: web_robots_gate/frontier): the staged "
    "files parse relationally into groups, the SELECTED group's rules "
    "compile to anchored regexes IN PURE SQL (metacharacter escaping "
    "via one capture-group regexp_replace, '*' to '.*', the trailing "
    "'$' anchor re-attached), and each host's three probe paths "
    "(/docs/docN, /tmp/docN, /private/docN) take longest-pattern-wins "
    "verdicts. The decisive semantics is GROUP ISOLATION (RFC 9309): "
    "even documents carry a specific-bot group, so ONLY its rules "
    "apply — their /private probe must come out ALLOWED even though "
    "the '*' group right above disallows /private/, while their "
    "/docs probe is blocked by the group's own '/docs/*N$' wildcard "
    "(which matches every id's own last digit); odd documents fall "
    "back to the '*' group and invert all three verdicts. A parser "
    "that leaks rules across groups, a compiler that mis-escapes, or "
    "a matcher that ignores the anchor each flip a column. Zero "
    "Python in the plan. Scale: the same broadcast-gate shape as the "
    "frontier capstone; rule compilation is a per-rule projection "
    "over a KB-sized table.",
)
def pipeline_rep_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    path = stage_doc_files(
        spark, sf_dir, "robots_files", "txt", _render_robots_txt
    )
    bf = (
        read_blobs(spark, path, "txt")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.decode(F.col("content"), "UTF-8").alias("body"),
        )
    )
    lines = bf.select(
        "doc_id",
        F.posexplode(F.split(F.col("body"), "\r?\n")).alias("pos", "raw"),
    ).select(
        "doc_id",
        "pos",
        F.trim(F.regexp_replace("raw", "#.*$", "")).alias("line"),
    ).where(F.col("line") != "")
    kv = lines.select(
        "doc_id",
        "pos",
        F.lower(F.trim(F.regexp_extract("line", r"^([^:]+):", 1)))
        .alias("key"),
        F.trim(F.regexp_extract("line", r"^[^:]+:(.*)$", 1)).alias("val"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grouped = kv.withColumn(
        "new_group",
        (
            (F.col("key") == "user-agent")
            & (F.coalesce(F.lag("key").over(w), F.lit("")) != "user-agent")
        ).cast("int"),
    ).withColumn("gid", F.sum("new_group").over(w))
    uas = (
        grouped.where(F.col("key") == "user-agent")
        .groupBy("doc_id", "gid")
        .agg(F.collect_set(F.lower("val")).alias("agents"))
    )
    best = (
        uas.select(
            "doc_id",
            "gid",
            F.when(
                F.array_contains("agents", "sparkgraftbot"), F.lit(2)
            ).when(F.array_contains("agents", "*"), F.lit(1))
            .otherwise(F.lit(0)).alias("rank"),
        )
        .where(F.col("rank") > 0)
        .groupBy("doc_id")
        .agg(F.max_by("gid", F.col("rank")).alias("bgid"))
    )
    # the selected group's rules, compiled to anchored regexes IN SQL:
    # escape regex metacharacters, '*' -> '.*', trailing '$' anchors
    rules = (
        grouped.join(best, "doc_id")
        .where(
            (F.col("gid") == F.col("bgid"))
            & F.col("key").isin("allow", "disallow")
            & (F.col("val") != "")
        )
        .select(
            "doc_id",
            "val",
            (F.col("key") == "allow").cast("int").alias("allow"),
            F.col("val").rlike("\\$$").cast("int").alias("anchored"),
        )
        .withColumn(
            "core",
            F.when(F.col("anchored") == 1,
                   F.expr("substring(val, 1, length(val) - 1)"))
            .otherwise(F.col("val")),
        )
        .withColumn(
            "esc",
            F.regexp_replace(
                "core", r"([.+?(){}\[\]^$|\\])", r"\\$1"
            ),
        )
        .withColumn(
            "rule_rx",
            F.concat(
                F.lit("^"),
                F.regexp_replace("esc", r"\*", ".*"),
                F.when(F.col("anchored") == 1, F.lit("$"))
                .otherwise(F.lit("")),
            ),
        )
        .select(
            F.col("doc_id").alias("rdoc"), "val", "allow", "rule_rx"
        )
    )
    probes = bf.select("doc_id").select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(F.lit("/docs/doc"), F.col("doc_id")),
                F.concat(F.lit("/tmp/doc"), F.col("doc_id")),
                F.concat(F.lit("/private/doc"), F.col("doc_id")),
            )
        ).alias("path"),
    )
    matched = probes.join(
        rules,
        (F.col("doc_id") == F.col("rdoc"))
        & F.expr("regexp_like(path, rule_rx)"),
        "left",
    )
    verdicts = matched.groupBy("doc_id", "path").agg(
        F.when(F.max("val").isNull(), F.lit(1))
        .otherwise(
            F.max_by("allow", F.lit(2) * F.length("val") + F.col("allow"))
        )
        .cast("int")
        .alias("allowed")
    )
    return verdicts.groupBy("doc_id").agg(
        F.max_by(
            "allowed", (F.col("path").startswith("/docs/")).cast("int")
        ).alias("docs_allowed"),
        F.max_by(
            "allowed", (F.col("path").startswith("/tmp/")).cast("int")
        ).alias("tmp_allowed"),
        F.max_by(
            "allowed", (F.col("path").startswith("/private/")).cast("int")
        ).alias("private_allowed"),
    )
def _render_sitemap(doc_id: int, text: str) -> bytes:
    import gzip

    host = f"https://src{doc_id % 20}.example"
    if doc_id % 3 == 0:  # sitemap INDEX: points at child sitemaps
        n = 2 + doc_id % 2
        body = "".join(
            f"<sitemap><loc>{host}/sitemap-{doc_id}-{i}.xml.gz</loc>"
            f"<lastmod>2026-0{1 + i}-01</lastmod></sitemap>"
            for i in range(n)
        )
        xml = (
            '<sitemapindex xmlns="http://www.sitemaps.org/schemas/'
            f'sitemap/0.9">{body}</sitemapindex>'
        )
    else:
        n = 1 + doc_id % 4
        body = "".join(
            f"<url><loc>{host}/docs/doc{doc_id}-{i}</loc>"
            f"<lastmod>2026-01-{10 + i:02d}</lastmod>"
            f"<priority>0.{5 + i}</priority></url>"
            for i in range(n)
        )
        xml = (
            '<urlset xmlns="http://www.sitemaps.org/schemas/'
            f'sitemap/0.9">{body}</urlset>'
        )
    raw = xml.encode("utf-8")
    if doc_id % 2 == 1:  # the wire reality: most sitemaps ship gzipped
        return gzip.compress(raw, mtime=0)
    return raw
_SITEMAP_URLSET_SCHEMA = (
    "struct<url array<struct<loc string, lastmod string, "
    "priority double>>>"
)
_SITEMAP_INDEX_SCHEMA = (
    "struct<sitemap array<struct<loc string, lastmod string>>>"
)
@register(
    "web_sitemap_discovery",
    oracle="""
    SELECT doc_id,
      CASE WHEN doc_id % 3 = 0 THEN 'index' ELSE 'urlset' END AS kind,
      CAST(doc_id % 2 AS INT) AS gz,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 2 + doc_id % 2
           ELSE 1 + doc_id % 4 END AS INT) AS n_entries,
      CASE WHEN doc_id % 3 = 0
           THEN 'https://src' || (doc_id % 20)
                || '.example/sitemap-' || doc_id || '-0.xml.gz'
           ELSE 'https://src' || (doc_id % 20)
                || '.example/docs/doc' || doc_id || '-0' END AS first_loc,
      CAST(CASE WHEN doc_id % 3 = 0 THEN NULL
           ELSE 0.5 + (doc_id % 4) * 0.1 END AS DOUBLE) AS max_priority
    FROM documents
    """,
    doc="XML SITEMAP discovery (sitemaps.org 0.9 protocol) — the third "
    "leg of the crawl frontier's pre-fetch surface beside the robots "
    "REP gate and RSS/Atom feed discovery: real crawls seed from "
    "sitemaps before anything else, and half the wire reality is "
    "GZIPPED (.xml.gz, cycled here by parity). The plan is the house "
    "feed shape: the only Python is a tiny Arrow gunzip kernel "
    "(magic-dispatched; plain files pass through untouched), then "
    "BOTH protocol layouts parse pure-JVM via from_xml with explicit "
    "schemas + coalesce — <sitemapindex> (child sitemap pointers, the "
    "recursion frontier) and <urlset> (loc/lastmod/priority per URL). "
    "An unparseable document is loud NULLs in the hash. Every column "
    "— kind routing, gzip flag, entry counts, first loc, the max "
    "priority aggregate over the entry array (NULL for indexes) — is "
    "recomputed by the oracle from the staging formulas. Scale: "
    "map-side kernel + JVM parse, one row per sitemap; the frontier "
    "fan-out join happens downstream at crawl scheduling.",
)
def web_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "sitemap_files", "xml", _render_sitemap
    )
    bf = (
        read_blobs(spark, path, "xml")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.xml$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def gunzip(batches):
        import pandas as pd

        from ...operators.compression import decompress

        for b in batches:
            out = {"doc_id": [], "gz": [], "xml": []}
            for doc_id, content in zip(b["doc_id"], b["content"]):
                raw = bytes(content)
                gz = raw[:2] == b"\x1f\x8b"
                out["doc_id"].append(int(doc_id))
                out["gz"].append(1 if gz else 0)
                out["xml"].append(
                    (decompress("gzip", raw) if gz else raw).decode("utf-8")
                )
            yield pd.DataFrame(out)

    texts = bf.mapInPandas(
        gunzip, schema="doc_id long, gz int, xml string"
    )
    parsed = texts.select(
        "doc_id",
        "gz",
        F.from_xml("xml", _SITEMAP_URLSET_SCHEMA).alias("us"),
        F.from_xml("xml", _SITEMAP_INDEX_SCHEMA).alias("ix"),
    )
    is_index = F.col("ix.sitemap").isNotNull()
    locs = F.coalesce(
        F.transform(F.col("ix.sitemap"), lambda s: s["loc"]),
        F.transform(F.col("us.url"), lambda u: u["loc"]),
    )
    return parsed.select(
        "doc_id",
        F.when(is_index, F.lit("index")).otherwise(F.lit("urlset"))
        .alias("kind"),
        "gz",
        F.size(locs).cast("int").alias("n_entries"),
        locs[0].alias("first_loc"),
        F.array_max(
            F.transform(F.col("us.url"), lambda u: u["priority"])
        ).alias("max_priority"),
    )
def _render_bson(doc_id: int, text: str) -> bytes:
    from ...operators.bson import write_bson_shard

    return write_bson_shard([
        {
            "_id": doc_id.to_bytes(12, "big"),
            "title": text[:15],
            "body": text,
            "score": (doc_id % 7) * 0.25,
            "ok": doc_id % 3 == 0,
            "views": 2 ** 32 + doc_id,           # forces int64
            "tags": [f"t{j}" for j in range(doc_id % 3)],
            "meta": {"lang": "ru", "src": doc_id % 20},
            "created": ("datetime_ms", 1767225600000 + doc_id * 1000),
            "nothing": None,
        },
        {
            "_id": (doc_id + 1).to_bytes(12, "big"),
            "title": text[:5],
            "body": text[:30],
            "score": 0.5,
            "ok": False,
            "views": doc_id,                     # int32 path
            "tags": [],
            "meta": {"lang": "en", "src": 0},
            "created": ("datetime_ms", 1767225600000),
            "nothing": None,
        },
    ])
@register(
    "multimodal_bson_ingest",
    oracle="""
    SELECT doc_id,
      2 AS n_docs,
      CAST((doc_id % 7) * 0.25 AS DOUBLE) AS score,
      CAST(doc_id % 3 AS INT) AS n_tags,
      CAST(doc_id % 20 AS INT) AS src,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS ok_flag,
      CAST(1767225600000 + doc_id * 1000 AS BIGINT) AS created_ms,
      1 AS body_exact
    FROM documents
    """,
    doc="BSON shard ingestion (operators/bson.py, own pure-stdlib codec "
    "from the public bsonspec.org 1.1) — mongodump-style .bson files "
    "(concatenated documents) are a routine lake ingestion class: app "
    "exports, chat-log backups, product catalogs. Each document "
    "stages as a two-record shard exercising the real type surface: "
    "ObjectId, UTF-8 strings, doubles, booleans, int32 AND int64 "
    "width routing ('views' crosses 2^31 on record one only), dense "
    "arrays (re-listed from their '0','1',... document form with "
    "forged-gap keys refused), embedded documents, UTC datetimes, "
    "and nulls. No independent BSON implementation exists in this "
    "container (no pymongo), so the codec is spec-pinned like "
    "FLAC/VP8L: byte-exact body recovery is demanded by the oracle "
    "and the hostile classes (document/string length lies, nesting "
    "bombs both directions, unknown types, boolean byte forgery, "
    "trailing garbage) are unit-swept loud (tests/test_bson.py). "
    "Scale: per-record document walk in the Arrow kernel — the same "
    "shape as the Avro and SQLite ingests.",
)
def multimodal_bson_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "bson_files", "bson", _render_bson
    )
    bf = (
        read_blobs(spark, path, "bson")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bson$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.bson import read_bson_shard

        for b in batches:
            out = {
                "doc_id": [], "n_docs": [], "score": [], "n_tags": [],
                "src": [], "ok_flag": [], "created_ms": [],
                "body_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                did = int(doc_id)
                recs = read_bson_shard(bytes(content))
                r0, r1 = recs[0], recs[1]
                out["doc_id"].append(did)
                out["n_docs"].append(len(recs))
                out["score"].append(float(r0["score"]))
                out["n_tags"].append(len(r0["tags"]))
                out["src"].append(int(r0["meta"]["src"]))
                out["ok_flag"].append(1 if r0["ok"] else 0)
                out["created_ms"].append(r0["created"][1])
                out["body_exact"].append(
                    1 if r0["body"] == text and r1["body"] == text[:30]
                    and r0["_id"] == did.to_bytes(12, "big")
                    and r0["views"] == 2 ** 32 + did
                    and r1["views"] == did else 0
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_docs int, score double, n_tags int, "
        "src int, ok_flag int, created_ms long, body_exact int",
    )
@register(
    "stream_bson_ingest",
    oracle="""
    SELECT doc_id,
      2 AS n_docs,
      CAST(doc_id % 3 AS INT) AS n_tags,
      CAST(length(text) + least(30, length(text)) AS BIGINT)
        AS body_chars
    FROM documents
    """,
    doc="STREAMING ingestion for the BSON family — the Auto-Loader "
    "shape over a continuously-filling dump bucket: the same staged "
    "mongodump shards consumed through readStream binaryFile with "
    "maxFilesPerTrigger bounding each micro-batch, decoded per batch "
    "by the same spec-pinned codec, appended to a checkpointed "
    "parquet target whose accumulated content must hash-equal the "
    "batch ingest (body_chars equals the source formula only if "
    "every micro-batch recovered its bodies byte-exactly).",
)
def stream_bson_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ...session import ensure_session_confs

    ensure_session_confs(spark)
    feed = stage_doc_files(
        spark, sf_dir, "bson_files", "bson", _render_bson
    )
    target = run_dir("bson_stream_target", sf_dir)
    chk = run_dir("bson_stream_chk", sf_dir)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.bson")
        .option("maxFilesPerTrigger", 200)
        .load(feed)
        .select("path", "content")
    )

    def decode(frame: DataFrame) -> DataFrame:
        def op(batches):
            import re as _re

            import pandas as pd

            from ...operators.bson import read_bson_shard

            for b in batches:
                out = {
                    "doc_id": [], "n_docs": [], "n_tags": [],
                    "body_chars": [],
                }
                for p, content in zip(b["path"], b["content"]):
                    did = int(_re.search(r"(\d+)\.bson$", p).group(1))
                    recs = read_bson_shard(bytes(content))
                    out["doc_id"].append(did)
                    out["n_docs"].append(len(recs))
                    out["n_tags"].append(len(recs[0]["tags"]))
                    out["body_chars"].append(
                        sum(len(r["body"]) for r in recs)
                    )
                yield pd.DataFrame(out)

        return frame.mapInPandas(
            op,
            schema="doc_id long, n_docs int, n_tags int, body_chars long",
        )

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        decode(batch_df).write.mode("append").parquet(target)

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
def _render_corrupt_bson(doc_id: int, text: str) -> bytes:
    blob = _render_bson(doc_id, text)
    if doc_id % _CORRUPT_MOD == 0:
        return blob[: len(blob) - len(blob) // 3]  # torn mid-document
    return blob
@register(
    "bson_ingest_quarantine",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % {_CORRUPT_MOD} = 0 THEN 'corrupt' ELSE 'ok' END
             AS status,
           CASE WHEN doc_id % {_CORRUPT_MOD} = 0 THEN NULL
                ELSE length(text) + least(30, length(text)) END AS body_chars
    FROM documents
    """,
    doc="Per-record QUARANTINE for the BSON family — every "
    f"{_CORRUPT_MOD}th staged mongodump shard is torn mid-document "
    "(the partial-upload shape), the kernel wraps read_bson_shard per "
    "record and routes failures to a status column, and the oracle "
    "checks both halves: torn shards quarantine with NULL accounting, "
    "every healthy shard still recovers its two bodies byte-exactly "
    "(combined length checked against the base table). Same parser "
    "that raises in multimodal_bson_ingest; quarantine rows route to "
    "a dead-letter table for re-fetch.",
)
def bson_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "bson_corrupt", "bson", _render_corrupt_bson
    )
    bf = read_blobs(spark, path, "bson").select("path", "content")

    def op(batches):
        import re as _re

        import pandas as pd

        from ...operators.bson import read_bson_shard

        for b in batches:
            out = {"doc_id": [], "status": [], "body_chars": []}
            for p, content in zip(b["path"], b["content"]):
                out["doc_id"].append(
                    int(_re.search(r"(\d+)\.bson$", p).group(1))
                )
                try:
                    recs = read_bson_shard(bytes(content))
                    out["status"].append("ok")
                    out["body_chars"].append(
                        sum(len(r["body"]) for r in recs)
                    )
                except (ValueError, NotImplementedError):
                    out["status"].append("corrupt")
                    out["body_chars"].append(None)
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op, schema="doc_id long, status string, body_chars long"
    )
def _render_sitemap_tree(doc_id: int, text: str) -> list:
    """A sitemap INDEX plus its child sitemap FILES, staged side by
    side the way a host really serves them: the parent's <loc> values
    name the children, children are gzipped urlsets."""
    import gzip

    host = f"https://src{doc_id % 20}.example"
    n_children = 2 + doc_id % 2
    files = []
    entries = []
    for i in range(n_children):
        fname = f"{doc_id}.c{i}.xml.gz"
        entries.append(
            f"<sitemap><loc>{host}/{fname}</loc></sitemap>"
        )
        n_urls = 1 + (doc_id + i) % 3
        body = "".join(
            f"<url><loc>{host}/docs/doc{doc_id}-{i}-{j}</loc></url>"
            for j in range(n_urls)
        )
        child = (
            '<urlset xmlns="http://www.sitemaps.org/schemas/'
            f'sitemap/0.9">{body}</urlset>'
        ).encode("utf-8")
        files.append((f"{doc_id}.c{i}.xml.gz", gzip.compress(child, mtime=0)))
    index = (
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/'
        f'sitemap/0.9">{"".join(entries)}</sitemapindex>'
    ).encode("utf-8")
    files.append((f"{doc_id}.idx.xml", index))
    return files
@register(
    "web_sitemap_recursive",
    oracle="""
    WITH c AS (
      SELECT doc_id, i
      FROM documents, LATERAL (
        SELECT unnest(range(2 + doc_id % 2)) AS i))
    SELECT doc_id,
      CAST(2 + doc_id % 2 AS INT) AS n_children,
      CAST(sum(1 + (doc_id + i) % 3) AS BIGINT) AS n_urls,
      'https://src' || (doc_id % 20) || '.example/docs/doc'
        || doc_id || '-0-0' AS first_url
    FROM c GROUP BY doc_id
    """,
    doc="RECURSIVE sitemap resolution — the index level real hosts "
    "actually serve: a <sitemapindex> whose <loc> entries name child "
    "sitemap FILES (gzipped urlsets), staged side by side like a "
    "host's document root. Resolution is the manifest-join shape: "
    "parse the index (pure-JVM from_xml), extract each child's "
    "basename from its loc, and equi-join against the binaryFile "
    "listing of child files — payloads never shuffle, only listing "
    "rows — then gunzip + parse each child and roll URL counts back "
    "up to the parent. The oracle recomputes children-per-parent, "
    "total discovered URLs (child sizes vary by (parent, child) "
    "formula, so a dropped or double-joined child flips the sum), "
    "and the first URL in deterministic child-then-position order. "
    "A loc naming a missing child file would simply drop from the "
    "inner join and fail the count — the loud path. Scale: two "
    "listings joined on basename, child parse map-side; at a "
    "billion-URL frontier the index level is KB-sized per host and "
    "the child fan-out is the parallelism, exactly how crawl seeding "
    "distributes.",
)
def web_sitemap_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "sitemap_tree_files", None, _render_sitemap_tree
    )
    idx = (
        read_blobs(spark, path, "idx.xml")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.idx\.xml$", 1)
            .cast("long")
            .alias("doc_id"),
            F.from_xml(
                F.decode(F.col("content"), "UTF-8"), _SITEMAP_INDEX_SCHEMA
            ).alias("ix"),
        )
    )
    refs = idx.select(
        "doc_id",
        F.posexplode("ix.sitemap").alias("child_pos", "sm"),
    ).select(
        "doc_id",
        "child_pos",
        F.regexp_extract(F.col("sm.loc"), r"/([^/]+)$", 1)
        .alias("basename"),
    )
    children = (
        read_blobs(spark, path, "xml.gz")
        .select(
            F.regexp_extract(F.col("path"), r"/(\d+\.c\d+\.xml\.gz)$", 1)
            .alias("basename"),
            "content",
        )
    )

    def gunzip(batches):
        import pandas as pd

        from ...operators.compression import decompress

        for b in batches:
            yield pd.DataFrame({
                "basename": b["basename"],
                "xml": [
                    decompress("gzip", bytes(c)).decode("utf-8")
                    for c in b["content"]
                ],
            })

    child_xml = children.mapInPandas(
        gunzip, schema="basename string, xml string"
    )
    resolved = refs.join(child_xml, "basename").select(
        "doc_id",
        "child_pos",
        F.from_xml("xml", _SITEMAP_URLSET_SCHEMA).alias("us"),
    )
    per_child = resolved.select(
        "doc_id",
        "child_pos",
        F.size("us.url").cast("long").alias("n_urls"),
        F.col("us.url")[0]["loc"].alias("first_loc"),
    )
    return per_child.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_children"),
        F.sum("n_urls").alias("n_urls"),
        F.min_by("first_loc", "child_pos").alias("first_url"),
    )
@register(
    "pipeline_crawl_frontier",
    oracle="""
    WITH u AS (
      SELECT doc_id % 20 AS hn, 1 + (doc_id % 20) % 4 AS n
      FROM documents WHERE doc_id % 3 <> 0)
    SELECT CAST(hn AS INT) AS hn,
      CAST(sum(n) AS BIGINT) AS n_urls,
      CAST(sum(CASE WHEN hn % 4 = 2 THEN 1 ELSE 0 END)
           + sum(CASE WHEN hn % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_blocked,
      CAST(sum(n)
           - sum(CASE WHEN hn % 4 = 2 THEN 1 ELSE 0 END)
           - sum(CASE WHEN hn % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_allowed
    FROM u GROUP BY hn
    """,
    doc="Crawl-FRONTIER assembly — the composition the pre-fetch "
    "surface exists for: URLs DISCOVERED from the staged sitemap "
    "corpus (urlset documents only; index documents point at child "
    "sitemaps, not pages) are gated through per-host REP rules with "
    "RFC 9309 wildcards before anything is fetched. The gate's rule "
    "set exercises both wildcard forms with real verdict flips: a "
    "baseline 'Allow: /docs/' everywhere, 'Disallow: /docs/*-2$' on "
    "hosts ≡2 mod 4 (whose sitemaps list exactly three entries, so "
    "one of three blocks — prefix matching would block none), and "
    "'Disallow: /docs/*-0$' on hosts ≡4 mod 5; host 14 carries both. "
    "Longest-PATTERN-match wins per the RFC's most-octets rule "
    "(rep_pattern_rx compiles each rule, the same machinery as "
    "web_robots_gate). The plan is the 100 TB frontier shape: gunzip "
    "kernel → pure-JVM from_xml → explode → broadcast KB-sized rules "
    "joined by host with a regexp match filter → per-host verdict "
    "counts; the oracle recomputes discovery and gating composed "
    "from both staging formulas, so a drift in EITHER parser breaks "
    "the hash.",
)
def pipeline_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "sitemap_files", "xml", _render_sitemap
    )
    bf = (
        read_blobs(spark, path, "xml")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.xml$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def gunzip(batches):
        import pandas as pd

        from ...operators.compression import decompress

        for b in batches:
            out = {"doc_id": [], "xml": []}
            for doc_id, content in zip(b["doc_id"], b["content"]):
                raw = bytes(content)
                if raw[:2] == b"\x1f\x8b":
                    raw = decompress("gzip", raw)
                out["doc_id"].append(int(doc_id))
                out["xml"].append(raw.decode("utf-8"))
            yield pd.DataFrame(out)

    texts = bf.mapInPandas(gunzip, schema="doc_id long, xml string")
    urls = (
        texts.select(
            F.from_xml("xml", _SITEMAP_URLSET_SCHEMA).alias("us"),
        )
        .where(F.col("us.url").isNotNull())
        .select(F.explode("us.url").alias("u"))
        .select(
            F.regexp_extract(
                F.col("u.loc"), r"https://src(\d+)\.example/", 1
            ).cast("int").alias("hn"),
            F.regexp_extract(
                F.col("u.loc"), r"https://[^/]+(/.*)$", 1
            ).alias("path"),
        )
    )
    rep = [("/docs/", 0, 1), ("/docs/*-2$", 1, 0), ("/docs/*-0$", 2, 0)]
    rules_all = spark.createDataFrame(
        [(p, rep_pattern_rx(p), c, a) for p, c, a in rep],
        "rule_path string, rule_rx string, cond int, allow int",
    )
    hosts = urls.select("hn").distinct()
    rules = hosts.crossJoin(F.broadcast(rules_all)).where(
        (F.col("cond") == 0)
        | ((F.col("cond") == 1) & (F.col("hn") % 4 == 2))
        | ((F.col("cond") == 2) & (F.col("hn") % 5 == 4))
    ).select(F.col("hn").alias("rhn"), "rule_path", "rule_rx", "allow")
    matched = urls.join(
        F.broadcast(rules),
        (F.col("hn") == F.col("rhn"))
        & F.expr("regexp_like(path, rule_rx)"),
        "left",
    )
    verdicts = matched.groupBy("hn", "path").agg(
        F.when(F.max("rule_path").isNull(), F.lit(1))
        .otherwise(
            F.max_by(
                "allow", F.lit(2) * F.length("rule_path") + F.col("allow")
            )
        )
        .cast("int")
        .alias("allowed")
    )
    return verdicts.groupBy("hn").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum(F.lit(1) - F.col("allowed")).cast("long").alias("n_blocked"),
        F.sum("allowed").cast("long").alias("n_allowed"),
    )
_AVRO_DOC_SCHEMA = (
    '{"type":"record","name":"doc","fields":['
    '{"name":"doc_id","type":"long"},'
    '{"name":"text","type":"string"},'
    '{"name":"tags","type":{"type":"array","items":"string"}},'
    '{"name":"score","type":["null","double"]},'
    '{"name":"ok","type":"boolean"}]}'
)
def _render_avro(doc_id: int, text: str) -> bytes:
    from ...operators.avro import write_avro

    recs = [
        {
            "doc_id": doc_id,
            "text": text,
            "tags": [f"t{j}" for j in range(doc_id % 3)],
            "score": None if doc_id % 2 == 0 else float(doc_id) / 4.0,
            "ok": doc_id % 3 == 0,
        },
        {
            "doc_id": -doc_id,
            "text": text[:10],
            "tags": [],
            "score": 0.5,
            "ok": False,
        },
    ]
    return write_avro(
        recs, _AVRO_DOC_SCHEMA,
        codec=("null", "deflate", "snappy")[doc_id % 3],
    )
