"""Result check: a query's output against its registry DuckDB oracle, by the
repository's canonical comparison (``tests/oracle_utils.compare``: column
names, row count, and an order-insensitive multiset of canonicalized values)
over the same generated parquet tables the engine reads."""

from __future__ import annotations


def check_query(frame, con, oracle: str | None) -> tuple[bool, str]:
    """``(ok, detail)`` for one result; ``frame`` is anything with
    ``toPandas()`` (a Spark DataFrame). A query without an oracle, or any
    exception while producing or comparing the result, is a failure."""
    from tests.oracle_utils import compare

    if oracle is None:
        return False, "no oracle registered"
    try:
        return compare(frame, con, oracle)
    except Exception as exc:  # a raising query is a failed check, not a crash
        return False, f"{type(exc).__name__}: {exc}"
