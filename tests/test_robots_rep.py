"""RFC 9309 REP wildcard matching — queries/formats/formats_web.py
web_robots_gate + formats_office.rep_pattern_rx.

The gate's full longest-match/tie-to-Allow semantics are oracle-checked
differentially (tests/test_oracle_parity.py); these tests pin the
pattern compiler itself and prove the staged wildcard rules FLIP
verdicts relative to prefix-only matching (r11 verdict #3's 'done'
condition), so a regression to startswith semantics cannot pass.
"""

from __future__ import annotations

import re

from etl_pipeline_old_spark.queries.formats.formats_office import rep_pattern_rx


def _matches(pat: str, path: str) -> bool:
    return re.search(rep_pattern_rx(pat), path) is not None


def test_star_matches_any_octet_run_including_empty():
    assert _matches("/docs/*7$", "/docs/doc7")       # empty run
    assert _matches("/docs/*7$", "/docs/doc27")
    assert not _matches("/docs/*7$", "/docs/doc72")  # anchor holds
    assert _matches("/*mp/", "/tmp/doc42")
    assert _matches("/*mp/", "/x/y/amp/z")           # run spans slashes


def test_dollar_only_anchors_at_pattern_end():
    # mid-pattern '$' is a literal octet per RFC 9309 §2.2.3
    assert _matches("/a$b", "/a$b/rest")
    assert not _matches("/a$b", "/ab")
    # trailing '$' anchors
    assert _matches("/doc$", "/doc")
    assert not _matches("/doc$", "/docs")


def test_regex_metachars_in_patterns_stay_literal():
    assert _matches("/a.b/", "/a.b/x")
    assert not _matches("/a.b/", "/aXb/x")  # '.' must not be a wildcard
    assert _matches("/q+(v)/", "/q+(v)/x")


def test_rx_is_fully_anchored_at_start():
    assert not _matches("/docs/", "/x/docs/")


def test_staged_wildcard_rules_flip_vs_prefix_only():
    """Replicate the gate's rule staging in plain Python and show at
    least one URL per wildcard rule whose verdict differs between
    RFC-9309 matching and prefix-only matching."""

    def rules_for(hn: int, wildcards: bool) -> list[tuple[str, int]]:
        rules = [("/private/", 0), ("/tmp", 0)]
        if hn % 2 == 1:
            rules += [("/", 0), ("/docs/", 1)]
        if hn % 4 == 1:
            rules += [("/docs/", 0), ("/docs/", 1)]
        if wildcards:
            if hn % 5 == 2:
                rules += [("/docs/*7$", 0)]
            if hn % 10 == 0:
                rules += [("/private/doc*0$", 1)]
            if hn % 4 == 2:
                rules += [("/*mp/", 1)]
        return rules

    def verdict(hn: int, path: str, wildcards: bool) -> int:
        best = None  # (specificity, allow)
        for pat, allow in rules_for(hn, wildcards):
            hit = (_matches(pat, path) if wildcards
                   else path.startswith(pat))
            if hit:
                key = (2 * len(pat) + allow, allow)
                if best is None or key > best:
                    best = key
        return 1 if best is None else best[1]

    # host 7 (≡2 mod 5, odd): /docs/doc27 ends in 7 -> wildcard blocks
    assert verdict(7, "/docs/doc27", wildcards=False) == 1
    assert verdict(7, "/docs/doc27", wildcards=True) == 0
    # host 0 (≡0 mod 10): /private/doc40 -> wildcard allow overrides
    assert verdict(0, "/private/doc40", wildcards=False) == 0
    assert verdict(0, "/private/doc40", wildcards=True) == 1
    # host 2 (≡2 mod 4): /tmp/doc42 -> '/*mp/' out-specifies '/tmp'
    assert verdict(2, "/tmp/doc42", wildcards=False) == 0
    assert verdict(2, "/tmp/doc42", wildcards=True) == 1
