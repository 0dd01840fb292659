"""Property tests pinning the scrub prefilter invariant.

`_PREFILTER` and the qa_fused byte-level candidate scan both assume: every
string matching any ALL_PATTERNS entry contains an ASCII digit, an '@', or a
toxic term. A future pattern violating that (street addresses,
case-insensitive slurs, …) would silently skip scrubbing on affected docs.
These tests generate strings *from the patterns themselves*, so any
non-conforming pattern added later fails here instead of shipping."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from isimip_qa_spark.functions.scrub import (
    ALL_PATTERNS,
    TOXIC_TERMS,
    _PREFILTER,
    _scrub_delta_series,
)


def _fused_byte_scan_flags(s: str) -> bool:
    """Reference model of qa_fused's candidate scan: any ASCII digit or '@'
    byte, or a toxic term (the kernel finds it in a space-split token)."""
    b = s.encode("utf-8")
    if any((48 <= c <= 57) or c == 64 for c in b):
        return True
    return any(term.encode() in b for term in TOXIC_TERMS)


@pytest.mark.parametrize("pattern,_repl", ALL_PATTERNS)
@given(data=st.data())
@settings(max_examples=50, deadline=None)
def test_every_pattern_match_is_flagged(pattern, _repl, data):
    s = data.draw(st.from_regex(pattern, fullmatch=True))
    assert _PREFILTER.search(s), (
        f"pattern {pattern!r} matched {s!r} but _PREFILTER does not flag it — "
        "the prefilter invariant (digit/@/toxic) no longer covers ALL_PATTERNS"
    )
    assert _fused_byte_scan_flags(s), (
        f"pattern {pattern!r} matched {s!r} but the qa_fused byte scan would "
        "not flag it"
    )


@pytest.mark.parametrize("pattern,repl", ALL_PATTERNS)
@given(data=st.data())
@settings(max_examples=25, deadline=None)
def test_prefiltered_delta_still_scrubs(pattern, repl, data):
    """End-to-end: a match embedded in clean text survives the prefilter and
    produces a non-null delta (the scrub actually happened)."""
    s = "clean words around " + data.draw(
        st.from_regex(pattern, fullmatch=True)
    ) + " more clean words"
    delta = _scrub_delta_series(pd.Series([s]))
    assert delta.iloc[0] is not None
    assert repl in delta.iloc[0]


def test_toxic_terms_are_byte_scan_safe():
    """qa_fused locates toxic terms inside the raw-cased tokens of a
    space split: terms must be lowercase (the regex is case-sensitive too —
    conventions must stay aligned), contain no space (so a match lies inside
    one token), and no regex metacharacters (they are spliced into
    TOXIC_PATTERN verbatim)."""
    for term in TOXIC_TERMS:
        assert term == term.lower()
        assert " " not in term
        assert term.isalnum()
