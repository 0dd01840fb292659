"""Every `isimip_qa/...` reference citation must resolve to a real file.

The round-3 verdict found 16 SURVEY.md rows and 9 docstrings citing
reference files that do not exist (isimip_qa/assessments.py et al.).
This test greps SURVEY.md and every package .py file for reference-path
citations and stats each under /root/reference, so a fabricated or
bit-rotted anchor can never land again. Line-number suffixes (":NN" or
":NN-MM") are validated against the cited file's actual length.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

REFERENCE = Path("/root/reference")
REPO = Path(__file__).resolve().parent.parent

# every check stats files under REFERENCE; without the reference checkout
# there is nothing to resolve citations against
pytestmark = pytest.mark.skipif(
    not REFERENCE.is_dir(), reason=f"reference source tree {REFERENCE} absent"
)

# isimip_qa/<segments>.py with an optional :N or :N-M line suffix
CITE = re.compile(r"isimip_qa/[A-Za-z0-9_/]+\.py(?::(\d+)(?:-(\d+))?)?")


def _cites(text):
    for m in CITE.finditer(text):
        path = m.group(0).split(":")[0]
        lo = int(m.group(1)) if m.group(1) else None
        hi = int(m.group(2)) if m.group(2) else lo
        yield path, lo, hi


def _check(src_name, text, errors):
    for path, lo, hi in _cites(text):
        f = REFERENCE / path
        if not f.is_file():
            errors.append(f"{src_name}: cites nonexistent {path}")
            continue
        if lo is not None:
            n = len(f.read_text().splitlines())
            if not (1 <= lo <= hi <= n):
                errors.append(
                    f"{src_name}: cites {path}:{lo}-{hi} but file has {n} lines"
                )


def test_survey_citations_resolve():
    errors = []
    _check("SURVEY.md", (REPO / "SURVEY.md").read_text(), errors)
    assert not errors, "\n".join(errors)


def test_other_doc_citations_resolve():
    errors = []
    for doc in ["README.md", "BASELINE.md", "FIXTURES.md", "TESTDATA.md"]:
        p = REPO / doc
        if p.exists():
            _check(doc, p.read_text(), errors)
    assert not errors, "\n".join(errors)


def test_package_docstring_citations_resolve():
    errors = []
    for py in sorted((REPO / "isimip_qa_spark").rglob("*.py")):
        _check(str(py.relative_to(REPO)), py.read_text(), errors)
    assert not errors, "\n".join(errors)


def test_reference_anchor_sanity():
    # the anchors the repo leans on most, pinned individually so a refactor
    # of the reference (or of this test's regex) can't silently pass
    for p in [
        "isimip_qa/main.py",
        "isimip_qa/models.py",
        "isimip_qa/mixins/extractions.py",
        "isimip_qa/mixins/plots.py",
        "isimip_qa/extractions/mean.py",
        "isimip_qa/extractions/meanmap.py",
        "isimip_qa/extractions/count.py",
        "isimip_qa/extractions/histogram.py",
        "isimip_qa/plots/daily.py",
        "isimip_qa/tests/test_extractions.py",
        "isimip_qa/tests/test_plots.py",
    ]:
        assert (REFERENCE / p).is_file(), p
