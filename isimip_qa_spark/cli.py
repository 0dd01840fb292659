"""CLI entry point (the reference's `isimip-qa` console script,
/root/reference/isimip_qa/main.py:15-105, recast: paths + scopes + stage
selection in, resumable Spark job out).

Same code path as jobs/qa_submit.py — that thin file exists so
`spark-submit --py-files dist/isimip_qa_spark.zip jobs/qa_submit.py` works
without installing the package.
"""

from __future__ import annotations

import argparse
import json
import sys


def _positive_int(tok: str) -> int:
    """argparse type for a count that must be at least 1, so a bad value
    fails at parse time, before the Spark session and the QA run."""
    n = int(tok)
    if n < 1:
        raise argparse.ArgumentTypeError(f"{tok!r} is not a positive integer")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="isimip-qa-spark")
    p.add_argument("--input", required=True, help="pages parquet/Iceberg path")
    p.add_argument("--output", required=True, help="output root (data/metrics/lineage)")
    p.add_argument("--chunks", type=_positive_int, default=8)
    p.add_argument("--window", default=None, help="warc_ts window lo:hi (dates)")
    p.add_argument("--langs", default=None, help="cohort langs, comma-separated")
    # multi-scope grid (reference planning loop, main.py:115-128): several
    # windows/cohorts semicolon-separated; each grid cell is one resumable
    # run under --output/<window>/<cohort>/<config-hash>/
    p.add_argument(
        "--windows", default=None,
        help="grid: windows 'lo:hi;lo:hi;all' (overrides --window)",
    )
    p.add_argument(
        "--cohorts", default=None,
        help="grid: cohorts 'en,es;fr;all' — inline lang lists or (name-"
        "prefixes of) named cohorts from --cohorts-file (overrides --langs)",
    )
    p.add_argument(
        "--cohorts-file", action="append", default=None, metavar="PATH_OR_URL",
        help="cohort-list source(s): JSON list of {name, langs} at a local "
        "path or http(s) URL (the reference's remote region list, "
        "config.py:101-103); repeatable, later lists shadow by name",
    )
    p.add_argument(
        "--from-html", action="store_true",
        help="raw-capture entry: derive text from the html binary column "
        "(JVM-side extraction, functions/extract.py) instead of trusting "
        "a pre-extracted text column",
    )
    p.add_argument("--no-resume", action="store_true")
    p.add_argument(
        "--cache", default=None,
        help="shared artifact cache (path or URL of a prior run's output): "
        "completed chunks with a matching config hash are fetched, not "
        "recomputed",
    )
    p.add_argument(
        "--gen-pages", type=int, default=0,
        help="generate N synthetic pages at --input first (smoke/bench)",
    )
    p.add_argument(
        "--export-dir", default=None,
        help="after QA completes, export the kept documents as "
        "integrity-verified compressed JSONL shards (plans/export.py) "
        "under this directory",
    )
    p.add_argument("--export-shards", type=_positive_int, default=16)
    p.add_argument(
        "--lang-profiles", default=None,
        help="per-language threshold profiles for the keep gate: inline "
        "'lang:min_words:min_stopword_ratio:min_alpha_word_frac;...' "
        "(a 'default' lang covers unlisted languages) or a path to a "
        "JSON list of [lang, min_words, min_sw, min_alpha] rows; "
        "omitted = global thresholds for every language",
    )
    p.add_argument(
        "--dsir-target", default=None,
        help="target-domain corpus (parquet with a text column): (re)fit "
        "a DSIR importance model against it (plans/dsir_artifact.py), "
        "with the QA run's kept output as the raw pool, and save to "
        "--dsir-artifact (overwriting any existing file)",
    )
    p.add_argument(
        "--dsir-artifact", default=None,
        help="DSIR model artifact path: fitted and written when "
        "--dsir-target is given, else loaded (fingerprint-guarded)",
    )
    p.add_argument(
        "--dsir-threshold", type=float, default=None,
        help="with --export-dir: export only kept docs whose DSIR "
        "logweight reaches this threshold",
    )
    return p


def _parse_window(tok: str | None):
    """'lo:hi' (dates) → inclusive timestamp window; 'all'/empty/None → no
    window. Validated here so a malformed token fails before the Spark
    session exists, not inside scope_filter's tuple unpack."""
    if tok in (None, "", "all"):
        return None
    parts = tok.split(":")
    if len(parts) != 2:
        raise SystemExit(f"--window(s) token {tok!r} must be 'lo:hi' or 'all'")
    return tuple(f"{d} 00:00:00" for d in parts)


def _parse_lang_profiles(tok: str | None):
    """--lang-profiles → QAConfig.lang_profiles tuple. Inline
    'lang:w:sw:af;...' or a JSON file of [lang, w, sw, af] rows;
    validated here so a malformed spec fails before the Spark session
    exists (the _parse_window discipline)."""
    if not tok:
        return None
    import json
    import os

    try:
        if os.path.exists(tok):
            with open(tok) as fh:
                raw = json.load(fh)
            rows = [tuple(r) for r in raw]
        else:
            rows = []
            for part in tok.split(";"):
                f = part.split(":")
                if len(f) != 4:
                    raise ValueError(
                        f"profile token {part!r} needs lang:w:sw:af"
                    )
                rows.append((f[0], f[1], f[2], f[3]))
        out = tuple(
            (str(l), int(w), float(sw), float(af)) for l, w, sw, af in rows
        )
    except (ValueError, TypeError, json.JSONDecodeError) as e:
        raise SystemExit(f"--lang-profiles: {e}")
    if not out:
        raise SystemExit("--lang-profiles: empty profile list")
    return out


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    # validate flag combinations BEFORE any compute: a typo must not cost
    # the full QA run
    grid = bool(args.windows or args.cohorts)
    if args.export_dir and grid:
        raise SystemExit(
            "--export-dir exports a single run's kept set; for a grid, "
            "export each combo's <output>/<window>/<cohort>/<hash> dir "
            "in a separate invocation"
        )
    if args.dsir_target and grid:
        raise SystemExit(
            "--dsir-target fits against a single run's kept output; a "
            "grid writes only per-combo dirs — fit from one combo's dir "
            "in a separate invocation"
        )
    if args.dsir_target and not args.dsir_artifact:
        raise SystemExit("--dsir-target needs --dsir-artifact to save to")
    if args.dsir_threshold is not None and not args.export_dir:
        raise SystemExit("--dsir-threshold only filters --export-dir output")
    if args.dsir_threshold is not None and not args.dsir_artifact:
        raise SystemExit("--dsir-threshold needs --dsir-artifact")
    lang_profiles = _parse_lang_profiles(args.lang_profiles)
    # scopes too: a bad window or cohort list must not cost a session
    window = _parse_window(args.window)
    if grid:
        from .sources.cohorts import fetch_cohorts, resolve_cohort_tokens

        windows = [_parse_window(t) for t in (args.windows or "all").split(";")]
        try:
            resolved = resolve_cohort_tokens(
                (args.cohorts or "all").split(";"), fetch_cohorts(args.cohorts_file)
            )
        except ValueError as e:
            raise SystemExit(f"--cohorts-file: {e}")

    from pyspark.sql import functions as F

    from .plans import QAConfig, run_qa
    from .plans.pipeline import read_scored
    from .session import get_spark

    spark = get_spark()
    if args.gen_pages:
        from .sources.pages import write_pages

        write_pages(
            spark,
            args.input,
            args.gen_pages,
            num_partitions=spark.sparkContext.defaultParallelism,
            n_buckets=args.chunks,
        )

    cfg = QAConfig(
        n_chunks=args.chunks,
        window=window,
        cohort_langs=tuple(args.langs.split(",")) if args.langs else None,
        extract_from_html=args.from_html,
        lang_profiles=lang_profiles,
    )
    pages = spark.read.parquet(args.input)
    if grid:
        from .plans import run_grid

        names = [nm for nm, _ in resolved]
        cohorts = [langs for _, langs in resolved]
        summary = run_grid(
            spark, pages, cfg, windows, cohorts, args.output,
            resume=not args.no_resume, cache_base=args.cache,
            cohort_names=names,
        )
    else:
        summary = run_qa(
            spark, pages, cfg, args.output,
            resume=not args.no_resume, cache_base=args.cache,
        )

    def kept_df():
        # the data dir holds EVERY scored page with its keep verdict
        # (plans/sink.py); downstream consumers see only the kept ones, and
        # only their scrubbed text
        return (
            read_scored(spark, args.output)
            .filter("keep")
            .withColumn("text", F.col("text_scrubbed"))
            .drop("text_scrubbed")
        )

    artifact = None
    if args.dsir_artifact:
        import os

        from .plans.dsir_artifact import fit_dsir_artifact, load_dsir_artifact

        if args.dsir_target:
            # an explicit target always (re)fits — loading an existing
            # file here would silently score against a stale model.
            # Raw side = the QA run's kept output: the same extracted,
            # scoped, scrubbed text the threshold filter later scores
            # (fitting on raw input text would mismatch the score-time
            # distribution, especially under --from-html).
            artifact = fit_dsir_artifact(
                kept_df().select("text"),
                spark.read.parquet(args.dsir_target).select("text"),
                args.dsir_artifact,
            )
        elif os.path.exists(args.dsir_artifact):
            artifact = load_dsir_artifact(args.dsir_artifact)
        else:
            raise SystemExit(
                "--dsir-artifact does not exist and no --dsir-target to "
                "fit it from"
            )
        summary["dsir_model"] = {
            "path": args.dsir_artifact,
            "target_ngrams": artifact["target_ngrams"],
            "raw_ngrams": artifact["raw_ngrams"],
        }

    if args.export_dir:
        import os

        from .plans.export import export_jsonl_shards

        kept = kept_df()
        if args.dsir_threshold is not None:
            from .plans.dsir_artifact import dsir_logweight_col

            kept = kept.filter(
                dsir_logweight_col(artifact, F.col("text"))
                >= args.dsir_threshold
            )
        r = export_jsonl_shards(
            kept, args.export_dir, n_shards=args.export_shards
        )
        summary["export"] = {
            "out_dir": r.out_dir,
            "n_shards": r.n_shards,
            "n_docs": r.n_docs,
            "n_tokens": r.n_tokens,
        }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
