"""HTML→text extraction: the north-rule byte-identity invariant, plus
plan-shape gates. (The cross-engine value check for the `extract_text`
query runs through tools/check_oracles.py like every registered query.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.test_plans import plan_of


def test_pages_html_extracts_byte_identical(spark):
    """extract_text_expr(pages.html) == pages.text for EVERY row — the
    executable form of "byte-identical extracted text per url". Compared
    as UTF-8 bytes (binary equality), not just string equality."""
    from isimip_qa_spark.functions.extract import extract_text_expr
    from isimip_qa_spark.sources.pages import pages_df

    pages = pages_df(spark, 2000, num_partitions=4)
    bad = pages.filter(
        extract_text_expr(F.col("html")).cast("binary")
        != F.col("text").cast("binary")
    ).count()
    assert bad == 0


def test_extract_drops_head_script_style_and_decodes_entities(spark):
    from isimip_qa_spark.functions.extract import extract_text_expr

    html = (
        b"<html><head><title>t</title><style>b{}</style></head>"
        b'<body><SCRIPT lang="js">if (1<2) alert("x")</SCRIPT>'
        b"<p>A &amp;amp; B &lt;i&gt; &quot;q&quot; &apos;s&apos;</p>"
        b"\nplain tail</body></html>"
    )
    row = spark.createDataFrame([(html,)], "html binary").select(
        extract_text_expr(F.col("html")).alias("t")
    ).head()
    # &amp;amp; decodes to &amp; (single pass, &amp; last) — not to &
    assert row.t == "A &amp; B <i> \"q\" 's'\nplain tail"


def test_extract_is_jvm_only(spark, sf_dir):
    """The extraction query stays in whole-stage codegen: no Python
    evaluation node anywhere, scan reads only (doc_id, text)."""
    from isimip_qa_spark.queries.extract import extract_text

    plan = plan_of(extract_text(spark, sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines and all(
        "doc_id" in ln and "text" in ln and "lang" not in ln
        for ln in scan_lines
    )


def test_pipeline_raw_capture_entry_matches_text_entry(spark, tmp_path):
    """run_qa(extract_from_html=True) over pages whose `text` column is
    POISONED must produce byte-identical scored output to the normal run —
    proof the pipeline really derives text from the raw html bytes."""
    from pyspark.sql import functions as F

    from isimip_qa_spark.plans import QAConfig, run_qa
    from isimip_qa_spark.plans.pipeline import read_scored
    from isimip_qa_spark.sources.pages import pages_df

    cfg = QAConfig(n_chunks=2, n_partitions=4)
    cfg_x = QAConfig(n_chunks=2, n_partitions=4, extract_from_html=True)
    pages = pages_df(spark, 3000, num_partitions=4)
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    run_qa(spark, pages, cfg, out_a)
    poisoned = pages.withColumn("text", F.lit("POISON"))
    run_qa(spark, poisoned, cfg_x, out_b)

    key = ["url"]
    a = read_scored(spark, out_a).toPandas().sort_values(key).reset_index(drop=True)
    b = read_scored(spark, out_b).toPandas().sort_values(key).reset_index(drop=True)
    pd_cols = [c for c in a.columns if c != "chunk"]
    assert a[pd_cols].equals(b[pd_cols])
    assert (b["text"] != "POISON").all()


def test_meta_directives_match_python_reference(spark, sf_dir):
    """Robots/canonical extraction vs a pure-Python re reference over the
    same constructed head, exercising every planted branch."""
    import re

    from isimip_qa_spark.queries.extract import meta_directives

    sf = sf_dir
    rows = meta_directives(spark, sf).collect()
    assert rows
    robots_re = re.compile(r'<meta\s+name="robots"\s+content="([^"]*)"', re.I)
    canon_re = re.compile(r'<link\s+rel="canonical"\s+href="([^"]*)"', re.I)
    seen = {"noindex": 0, "indexable": 0, "no_meta": 0, "no_canon": 0}
    for r in rows:
        did = int(r["doc_id"])
        m4, m3 = did % 4, did % 3
        meta = {
            0: '<meta name="ROBOTS" content="noindex, nofollow">',
            1: '<meta name="robots" content="NOINDEX">',
            2: '<meta name="Robots" content="index, follow">',
            3: "",
        }[m4]
        canon = (
            ""
            if m3 == 0
            else f'<link rel="canonical" href="https://h{(did - did % 2) % 5}'
            f'.example.org/c/{did - did % 2}">'
        )
        head = f"<html><head>{meta}{canon}</head>"
        rm = robots_re.search(head)
        want_robots = rm.group(1).lower() if rm else ""
        cm = canon_re.search(head)
        want_canon = cm.group(1) if cm else ""
        assert r["robots"] == want_robots, did
        assert r["canonical"] == want_canon, did
        assert r["noindex"] == ("noindex" in want_robots)
        assert r["nofollow"] == ("nofollow" in want_robots)
        assert r["index_keep"] == ("noindex" not in want_robots)
        seen["noindex" if r["noindex"] else "indexable"] += 1
        if not want_robots:
            seen["no_meta"] += 1
        if not want_canon:
            seen["no_canon"] += 1
    assert all(seen.values()), seen
    # canonical dup families: even/odd pairs that BOTH carry the link
    # share one href
    by_canon = {}
    for r in rows:
        if r["canonical"]:
            by_canon.setdefault(r["canonical"], []).append(int(r["doc_id"]))
    assert any(len(v) == 2 for v in by_canon.values())


def test_meta_directives_plan_is_pure_projection(spark, sf_dir):
    from isimip_qa_spark.queries.extract import meta_directives

    plan = (
        meta_directives(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_dedup_canonical_families(spark, sf_dir):
    """Families are exactly the even/odd pairs where BOTH members carry
    the canonical link (neither doc_id ≡ 0 mod 3), rep = even member."""
    from isimip_qa_spark.queries.extract import dedup_canonical

    sf = sf_dir
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    rows = {r["canonical"]: r for r in dedup_canonical(spark, sf).collect()}
    assert rows
    want = {}
    for base in range(0, n_docs, 2):
        members = [
            d for d in (base, base + 1) if d < n_docs and d % 3 != 0
        ]
        if len(members) == 2:
            href = (
                f"https://h{base % 5}.example.org/c/{base}"
            )
            want[href] = (len(members), members[0])
    assert {k: (r["n_docs"], r["rep_doc_id"]) for k, r in rows.items()} == want


def test_dedup_canonical_plan_single_exchange(spark, sf_dir):
    from isimip_qa_spark.queries.extract import dedup_canonical

    plan = (
        dedup_canonical(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "Python" not in plan


def test_hreflang_clusters_match_python_reference(spark, sf_dir):
    """Family membership, sizes, and language sets recomputed from the
    plant's arithmetic; members missing the block (doc_id % 5 == 4) must
    not count toward their family."""
    from isimip_qa_spark.queries.extract import (
        _LANG_WHEEL,
        hreflang_clusters,
    )

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    want = {}
    for did in range(n_docs):
        if did % 5 == 4:
            continue
        fid = did // 3
        la = _LANG_WHEEL[fid % 5]
        lb = _LANG_WHEEL[(fid + 2) % 5]
        family = f"https://h{fid % 7}.example.org/f/{fid}"
        csv = ",".join(sorted([la, lb]))
        n, _ = want.get(family, (0, csv))
        want[family] = (n + 1, csv)
    want = {k: v for k, v in want.items() if v[0] >= 2}
    got = {
        r["family"]: (r["n_pages"], r["langs_csv"], r["consistent"])
        for r in hreflang_clusters(spark, sf_dir).collect()
    }
    assert {k: (n, c) for k, (n, c, _) in got.items()} == want
    assert all(c for _, _, c in got.values())
    # the fixture must exercise both family sizes (a member dropped by the
    # %5 hole vs a complete triple)
    sizes = {n for n, _ in want.values()}
    assert 2 in sizes and 3 in sizes


def test_hreflang_langs_csv_twins_agree_on_all_list_sizes(spark):
    """The langs_csv twins must agree for 0-, 1-, AND 2-alternate pages —
    the plant only emits 0 or 2, so the 1-alternate branch was a latent
    twin gap (round-3 ADVICE): Spark's null-skipping least/greatest would
    fold a lone language to 'en,en' while the SQL CASE yielded NULL. Both
    sides now branch explicitly on list length; this pins the contract on
    the sizes the plant never exercises."""
    import duckdb

    from pyspark.sql import functions as F

    from isimip_qa_spark.queries.extract import _HREFLANG_RE

    def head(langs):
        return "<html><head>" + "".join(
            f'<link rel="alternate" hreflang="{lg}" '
            f'href="https://h0.example.org/f/0/{lg}">'
            for lg in langs
        ) + "</head>"

    cases = [head([]), head(["en"]), head(["fr", "en"])]

    sdf = spark.createDataFrame([(h,) for h in cases], "head string")
    lgs = F.regexp_extract_all(F.col("head"), F.lit(_HREFLANG_RE), 1)
    l1, l2 = F.try_element_at(lgs, F.lit(1)), F.try_element_at(lgs, F.lit(2))
    got_spark = [
        r["csv"]
        for r in sdf.select(
            F.when(F.size(lgs) == 0, F.lit(""))
            .when(F.size(lgs) == 1, l1)
            .otherwise(
                F.concat_ws(",", F.least(l1, l2), F.greatest(l1, l2))
            )
            .alias("csv")
        ).collect()
    ]

    re_sql = _HREFLANG_RE.replace("'", "''")
    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"""
            SELECT CASE WHEN len(langs) = 0 THEN ''
                        WHEN len(langs) = 1 THEN langs[1]
                        WHEN langs[1] <= langs[2]
                          THEN langs[1] || ',' || langs[2]
                        ELSE langs[2] || ',' || langs[1] END
            FROM (SELECT regexp_extract_all(?, '{re_sql}', 1) AS langs)
            """,
            [h],
        ).fetchone()[0]
        for h in cases
    ]
    assert got_spark == got_duck == ["", "en", "en,fr"]


def test_hreflang_clusters_plan_single_exchange(spark, sf_dir):
    from isimip_qa_spark.queries.extract import hreflang_clusters

    plan = (
        hreflang_clusters(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "Python" not in plan


def test_nocase_escapes_regex_metacharacters():
    """nocase() must keep a literal a literal in BOTH regex engines: a
    metacharacter (. ? -) in the input is backslash-escaped, alpha chars
    become [Aa]-classes, digits/underscore pass through (ADVICE r4)."""
    import re

    import duckdb

    from isimip_qa_spark.functions.extract import nocase

    pat = nocase("x-ray.v2?")
    # matches the case variants…
    for s in ("x-ray.v2?", "X-RAY.V2?", "X-Ray.V2?"):
        assert re.fullmatch(pat, s), (pat, s)
    # …and the '.' / '?' stay literals: 'xzrayXv2' must NOT match
    assert re.search(pat, "x-rayXv2?") is None
    assert re.search(pat, "x-ray.v2") is None
    # identical semantics in DuckDB's RE2
    con = duckdb.connect()
    q = "SELECT regexp_matches(?, ?)"
    assert con.execute(q, ["X-RAY.V2?", pat]).fetchone()[0]
    assert not con.execute(q, ["x-rayXv2?", pat]).fetchone()[0]
    # pure-alpha literals are unchanged by the escaping rule
    assert nocase("href") == "[Hh][Rr][Ee][Ff]"
