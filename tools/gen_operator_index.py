"""Generate OPERATORS.md — the one-page consumer index of every
registered query: name → SURVEY §2 home → implementation file:line →
oracle kind (VERDICT r4 'Next round' #6).

The table is DERIVED (registry introspection + SURVEY.md section scan),
committed, and drift-tested (tests/test_operator_index.py regenerates it
and compares), the same discipline as the citation test: the index can
never silently rot against the code.

Usage: python tools/gen_operator_index.py        # rewrite OPERATORS.md
       python tools/gen_operator_index.py --stdout
"""

from __future__ import annotations

import inspect
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADER = """# Operator index

Every registered query of the engine (the `queries()` /
`oracle_sql()` driver surface), generated by
`tools/gen_operator_index.py` and drift-tested by
`tests/test_operator_index.py` — regenerate instead of editing.

Oracle kind: **hash** = full value-hash DuckDB twin; **hash (capped
twin)** = value-hash twin that mirrors the engine's live blocking-key
frequency cap (the demo-width convention, see `queries/dedup.py`);
**rows-only** = deliberately not value-gated (approx sketch), with the
signal carried by a pytest and/or a hash-green companion row.

| # | query | SURVEY §2 | implementation | oracle |
|---|---|---|---|---|
"""


def survey_sections():
    """[(section_id, text)] for every §2.x subsection of SURVEY.md, in
    document order."""
    text = open(os.path.join(REPO, "SURVEY.md")).read()
    parts = re.split(r"^### (2\.\d+)", text, flags=re.M)
    out = []
    for i in range(1, len(parts) - 1, 2):
        out.append((parts[i], parts[i + 1]))
    return out


# §2.1-2.6 rows are keyed by operator IDs (S/F/A/J/W/X), not query names,
# so the reference-operator and early-payload queries map explicitly; every
# other query is located by scanning the §2 text for its literal name.
SURVEY_OVERRIDES = {
    "pricing_summary": "§2.3 (flagship agg)",
    "time_slice": "§2.2 F1",
    "nearest_point": "§2.2 F2",
    "bbox_nonnull": "§2.2 F8",
    "distinct_step": "§2.2 F10",
    "weighted_mean": "§2.3 A2",
    "count_nonnull_daily": "§2.3 A3",
    "meanmap_compat": "§2.3 A5-A6",
    "attrs_manifest": "§2.3 A9",
    "calendar_stats": "§2.3 A10",
    "climatology_doy_znorm": "§2.3 A11",
    "climatology_moy_znorm": "§2.3 A12",
    "climatology_hod_znorm": "§2.3 A11-A12",
    "histogram_pdf": "§2.3 A13",
    "histogram_cdf": "§2.3 A14",
    "axis_range": "§2.3 A15",
    "mask_semi_join": "§2.4 J1",
    "anti_join_idle_customers": "§2.4",
    "pivot_daily_events": "§2.5 W4",
    "topk_per_group": "§2.5 W1-W5",
    "scrub_pii": "§2.9",
    "quality_score": "§2.9",
    "doc_fingerprint": "§2.9",
    "lang_quality_rollup": "§2.9",
    "multimodal_meta": "§2.11",
    "dedup_exact": "§2.11",
    "dedup_simhash": "§2.11",
    "dedup_embedding_cosine": "§2.11",
    "ann_cosine_topk": "§2.11",
    "ann_lsh_bucketed": "§2.11",
    "embed_norm_stats": "§2.11",
}


def survey_home(name: str, sections) -> str:
    if name in SURVEY_OVERRIDES:
        return SURVEY_OVERRIDES[name]
    for sec_id, text in sections:
        if re.search(rf"(?<![A-Za-z0-9_]){re.escape(name)}(?![A-Za-z0-9_])", text):
            return f"§{sec_id}"
    return "—"


def oracle_kind(name: str, oracles) -> str:
    if name not in oracles:
        return "rows-only"
    from isimip_qa_spark.queries.dedup import BUCKET_CAP

    sql = oracles[name]
    if "count(*) OVER (PARTITION BY" in sql and f"<= {BUCKET_CAP}" in sql:
        return "hash (capped twin)"
    return "hash"


def generate() -> str:
    sys.path.insert(0, REPO)
    from isimip_qa_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    sections = survey_sections()
    rows = []
    for i, name in enumerate(sorted(QUERIES), 1):
        fn = QUERIES[name]
        path = os.path.relpath(inspect.getsourcefile(fn), REPO)
        line = inspect.getsourcelines(fn)[1]
        rows.append(
            f"| {i} | `{name}` | {survey_home(name, sections)} "
            f"| `{path}:{line}` | {oracle_kind(name, ORACLES)} |"
        )
    n_hash = sum(1 for n in QUERIES if n in ORACLES)
    footer = (
        f"\n{len(QUERIES)} queries: {n_hash} hash-gated, "
        f"{len(QUERIES) - n_hash} rows-only.\n"
    )
    return HEADER + "\n".join(rows) + "\n" + footer


def main() -> None:
    text = generate()
    if "--stdout" in sys.argv:
        sys.stdout.write(text)
        return
    with open(os.path.join(REPO, "OPERATORS.md"), "w") as f:
        f.write(text)
    print(f"wrote OPERATORS.md ({len(text.splitlines())} lines)")


if __name__ == "__main__":
    main()
