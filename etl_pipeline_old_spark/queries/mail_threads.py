"""Email thread reconstruction — the corpus-scale capstone over
operators/mail.py (r13 verdict #7): RFC 5322 §3.6.4 References /
In-Reply-To chains rebuilt RELATIONALLY.

A mail corpus's unit of meaning is the thread, not the message
(conversation datasets, support-ticket corpora, mailing-list
archives), and at 100 TB the reconstruction must be joins, not a
driver-side graph walk: one Arrow kernel parses each message's
threading headers, then everything is pure JVM — parent =
coalesce(In-Reply-To, last(References)) per the de-facto JWZ rule,
the parent resolved through a SELF-JOIN on Message-ID (so a missing
parent is a join miss, not a crash), thread root = first(References)
(the oldest-first convention real mailers follow), child counts and
thread sizes as groupBy aggregates joined back.  Depth falls out of
the References chain length.  Plan-locked in tests/test_plans.py:
exactly one MapInPandas (the header parse), equi-joins only, no
Python past the kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.files import read_blobs, stage_doc_files

_THREAD = 5  # messages per staged thread


def _thread_parent(doc_id: int) -> int | None:
    p = doc_id % _THREAD
    if p == 0:
        return None
    return doc_id - p + (p - 1) // 2


def _thread_ancestors(doc_id: int) -> list[int]:
    """Root-first ancestor chain (what References carries)."""
    chain: list[int] = []
    cur = _thread_parent(doc_id)
    while cur is not None:
        chain.append(cur)
        cur = _thread_parent(cur)
    return list(reversed(chain))


def _mid(doc_id: int) -> str:
    return f"<m{doc_id}@corpus.example.invalid>"


def _render_thread_mbox(doc_id: int, text: str) -> bytes:
    """One message per file: position doc_id%5 in its 5-message
    thread, References carrying the full oldest-first ancestor chain
    and In-Reply-To the direct parent — reconstruction must JOIN
    across files, the corpus reality."""
    from ..operators.mail import write_mbox, write_message

    parent = _thread_parent(doc_id)
    ancestors = _thread_ancestors(doc_id)
    subject = f"тема {doc_id - doc_id % _THREAD}"
    if parent is not None:
        subject = "Re: " + subject
    raw = write_message(
        subject,
        f"автор {doc_id % 7}",
        text,
        message_id=_mid(doc_id),
        in_reply_to=_mid(parent) if parent is not None else None,
        references=[_mid(a) for a in ancestors] or None,
    )
    return write_mbox([raw])


@register(
    "mail_thread_reconstruct",
    oracle=f"""
    SELECT doc_id,
           (doc_id - doc_id % {_THREAD}) AS thread_id,
           CAST(CASE doc_id % {_THREAD}
                WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1
                ELSE 2 END AS INT) AS depth,
           1 AS parent_ok,
           CAST(CASE WHEN doc_id % {_THREAD} IN (0, 1) THEN 2
                ELSE 0 END AS INT) AS n_children,
           {_THREAD} AS thread_size
    FROM documents
    """,
    doc="Email THREAD reconstruction from RFC 5322 References / "
    "In-Reply-To chains (r13 verdict #7) — the conversation-dataset "
    "shape: each document stages as one message of a 5-message tree "
    "(root, two first-level replies, two second-level) in its OWN "
    "mbox file, so reconstruction cannot cheat on file locality. One "
    "Arrow kernel parses the threading headers; everything after is "
    "pure JVM: parent = coalesce(In-Reply-To, last(References)) per "
    "the JWZ convention, resolved through a corpus-wide SELF-JOIN on "
    "Message-ID (parent_ok comes from the join hit, so a resolution "
    "bug flips it), thread root = first(References), depth = chain "
    "length, child counts and thread sizes as groupBy aggregates "
    "joined back. The oracle recomputes the whole tree closed-form "
    "from the staging arithmetic. Scale: the self-join and the two "
    "aggregates are hash-partitioned equi-joins on message ids — the "
    "plan a 100 TB list archive needs; plan-locked to one kernel, no "
    "Cartesian, no row-Python.",
)
def mail_thread_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "mbox_threads", "mbox", _render_thread_mbox
    )
    bf = (
        read_blobs(spark, path, "mbox")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.mbox$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def parse(batches):
        import pandas as pd

        from ..operators.mail import parse_message, split_mbox

        for b in batches:
            out = {"doc_id": [], "message_id": [], "in_reply_to": [],
                   "references": []}
            for doc_id, content in zip(b["doc_id"], b["content"]):
                (raw,) = split_mbox(bytes(content))
                h = parse_message(raw)["headers"]
                out["doc_id"].append(int(doc_id))
                out["message_id"].append(h.get("message-id"))
                out["in_reply_to"].append(h.get("in-reply-to"))
                out["references"].append(h.get("references"))
            yield pd.DataFrame(out)

    msgs = bf.mapInPandas(
        parse,
        schema="doc_id long, message_id string, in_reply_to string, "
        "references string",
    ).withColumn(
        "refs",
        F.when(
            F.col("references").isNotNull(),
            F.split(F.col("references"), r"\s+"),
        ).otherwise(F.array().cast("array<string>")),
    ).withColumn(
        "parent_mid",
        F.coalesce(F.col("in_reply_to"), F.try_element_at("refs", F.lit(-1))),
    ).withColumn(
        "root_mid",
        F.coalesce(F.try_element_at("refs", F.lit(1)), F.col("message_id")),
    ).withColumn("depth", F.size("refs"))
    # the parsed relation feeds FOUR consumers (self-join build side,
    # child counts, thread sizes, and itself) — persist it so the
    # corpus is parsed once, not once per consumer (the plan-lock in
    # tests/test_plans.py counts MapInPandas nodes)
    msgs = msgs.persist()

    parents = msgs.select(
        F.col("message_id").alias("parent_mid"),
        F.lit(1).alias("parent_hit"),
    )
    resolved = msgs.join(parents, "parent_mid", "left").withColumn(
        "parent_ok",
        F.when(
            F.col("parent_mid").isNull() | F.col("parent_hit").isNotNull(),
            1,
        ).otherwise(0),
    )
    n_children = (
        msgs.where(F.col("parent_mid").isNotNull())
        .groupBy(F.col("parent_mid").alias("message_id"))
        .agg(F.count("*").cast("int").alias("n_children"))
    )
    sizes = msgs.groupBy("root_mid").agg(
        F.count("*").cast("int").alias("thread_size")
    )
    return (
        resolved.join(n_children, "message_id", "left")
        .join(sizes, "root_mid")
        .select(
            "doc_id",
            F.regexp_extract(F.col("root_mid"), r"<m(\d+)@", 1)
            .cast("long")
            .alias("thread_id"),
            "depth",
            "parent_ok",
            F.coalesce(F.col("n_children"), F.lit(0)).alias("n_children"),
            "thread_size",
        )
    )
