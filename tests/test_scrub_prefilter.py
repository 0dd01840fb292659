"""Property tests pinning the scrub prefilter invariant.

The fused kernel's candidate scan (qa_fused._fused_arrow) and the JVM scrub
stage's CANDIDATE_PATTERN gate run the scrub chain only on docs holding an
ASCII digit, an '@', or a toxic term, so they assume every string matching
any ALL_PATTERNS entry contains one. A future pattern violating that
(street addresses, case-insensitive slurs, …) would silently skip scrubbing
on affected docs.
These tests generate strings *from the patterns themselves*, so any
non-conforming pattern added later fails here instead of shipping."""

from __future__ import annotations

import re

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from isimip_qa_spark.functions.qa_fused import _fused_arrow
from isimip_qa_spark.functions.scrub import (
    ALL_PATTERNS,
    CANDIDATE_PATTERN,
    TOXIC_TERMS,
    scrub_text,
)


def _fused_byte_scan_flags(s: str) -> bool:
    """Reference model of qa_fused's candidate scan: any ASCII digit or '@'
    byte, or a toxic term (the kernel finds it in a space-split token)."""
    b = s.encode("utf-8")
    if any((48 <= c <= 57) or c == 64 for c in b):
        return True
    return any(term.encode() in b for term in TOXIC_TERMS)


def _kernel_delta(s: str) -> str | None:
    return _fused_arrow(pa.array([s])).column("scrub_delta")[0].as_py()


@pytest.mark.parametrize("pattern,_repl", ALL_PATTERNS)
@given(data=st.data())
@settings(max_examples=50, deadline=None)
def test_every_pattern_match_is_flagged(pattern, _repl, data):
    s = data.draw(st.from_regex(pattern, fullmatch=True))
    assert re.search(CANDIDATE_PATTERN, s), (
        f"pattern {pattern!r} matched {s!r} but CANDIDATE_PATTERN does not flag it"
    )
    assert _fused_byte_scan_flags(s), (
        f"pattern {pattern!r} matched {s!r} but the qa_fused byte scan would "
        "not flag it — the prefilter invariant (digit/@/toxic) no longer "
        "covers ALL_PATTERNS"
    )
    assert _kernel_delta(s) == scrub_text(s) != s, (
        f"pattern {pattern!r} matched {s!r} but the kernel did not scrub it"
    )


@pytest.mark.parametrize("pattern,repl", ALL_PATTERNS)
@given(data=st.data())
@settings(max_examples=25, deadline=None)
def test_prefiltered_delta_still_scrubs(pattern, repl, data):
    """End-to-end: a match embedded in clean text survives the kernel's
    candidate scan and produces a non-null delta (the scrub happened)."""
    s = "clean words around " + data.draw(
        st.from_regex(pattern, fullmatch=True)
    ) + " more clean words"
    delta = _kernel_delta(s)
    assert delta is not None
    assert repl in delta


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
