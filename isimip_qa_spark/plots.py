"""The artifact phase: metrics rollup, run-over-run drift, and figures.

The reference's plots re-read extraction artifacts, aggregate in pandas,
and render a grid of panels (isimip_qa/mixins/plots.py:17-28,116-158,
isimip_qa/plots/*.py). The engine-side math of every plot (A10-A15)
already lives in oracle-checked queries; this module closes the
*presentation* entry point. Its one input is the QA metrics table (the
artifact analogue: one small parquet file per out_dir, rebuilt from the
chunk manifests at every publish), rolled up per chunk by
`metrics_rollup`. The drift report and both figures are built on that
rollup. The phase runs no Spark: it reads the file with pyarrow on the
driver.

Figures are SVG from one dependency-free, deterministic writer: the same
data always gives the same bytes (tests/golden/grid_golden.svg)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq


def metrics_rollup(out_dir: str) -> list[dict]:
    """Per-chunk rollup over the metrics table (reference analogue: a plot
    re-reading its extraction CSV, plots/daily.py:15-17), one dict per
    chunk in chunk order: n_docs, keep_rate, avg_ppl, n_scrubbed. A ratio
    whose denominator is 0 (no docs, or no doc with a perplexity) is
    None."""
    cols = ("n_docs", "n_keep", "ppl_sum", "ppl_n", "n_scrubbed")
    m = pq.read_table(f"{out_dir}/metrics", columns=["chunk", *cols])
    # one thread: a fixed summation order, so equal tables give equal sums
    sums = (
        m.group_by("chunk", use_threads=False)
        .aggregate([(c, "sum") for c in cols])
        .sort_by("chunk")
    )
    return [
        {
            "chunk": r["chunk"],
            "n_docs": r["n_docs_sum"],
            "keep_rate": r["n_keep_sum"] / r["n_docs_sum"] if r["n_docs_sum"] else None,
            # EXACT per-doc mean from the raw sums carried in
            # METRICS_SCHEMA (ppl_sum/ppl_n) — not a docs-weighted mean of
            # rounded partials, which is biased when null-ppl rows are
            # uneven across partitions (tests/test_plots.py asserts
            # equality with the direct corpus aggregate)
            "avg_ppl": r["ppl_sum_sum"] / r["ppl_n_sum"] if r["ppl_n_sum"] else None,
            "n_scrubbed": r["n_scrubbed_sum"],
        }
        for r in sums.to_pylist()
    ]


# --- run-over-run drift ------------------------------------------------------
# A crawl team reruns the pipeline after a config, model, or corpus change
# and asks what moved (keep rate, perplexity, scrub volume) and where. The
# reference answers this one dataset at a time, comparing extraction
# outputs against stored expectations (isimip_qa/tests/test_extractions.py);
# here it is answered rollup to rollup, the way snapshot_diff
# (queries/versioning.py) answers it corpus to corpus. The rates come from
# the raw sums, so a zero-change rerun reports exactly zero drift.


def _rates(roll: dict | None) -> dict:
    if roll is None:
        return dict.fromkeys(("n_docs", "keep_rate", "avg_ppl", "scrub_rate"))
    n = roll["n_docs"]
    return {
        "n_docs": n,
        "keep_rate": roll["keep_rate"],
        "avg_ppl": roll["avg_ppl"],
        "scrub_rate": roll["n_scrubbed"] / n if n else None,
    }


def metrics_drift(
    out_dir_a: str,
    out_dir_b: str,
    keep_rate_tol: float = 0.01,
    ppl_tol: float = 1.0,
    scrub_rate_tol: float = 0.01,
) -> list[dict]:
    """Per-chunk drift between two runs' out_dirs (run A = baseline, run
    B = candidate), one dict per chunk of either run in chunk order: chunk,
    n_docs_a/b, keep_rate_a/b/_delta, avg_ppl_a/b/_delta,
    scrub_rate_a/b/_delta (scrub rate = n_scrubbed / n_docs) and flagged.
    A delta is None unless both sides have the rate. A chunk is flagged
    when it is in one run only, when a rate exists on one side only (a
    chunk whose docs lost every perplexity), or when a delta is beyond
    its tolerance."""
    tols = {"keep_rate": keep_rate_tol, "avg_ppl": ppl_tol, "scrub_rate": scrub_rate_tol}
    a = {r["chunk"]: r for r in metrics_rollup(out_dir_a)}
    b = {r["chunk"]: r for r in metrics_rollup(out_dir_b)}
    report = []
    for chunk in sorted(a.keys() | b.keys()):
        ra, rb = _rates(a.get(chunk)), _rates(b.get(chunk))
        row = {"chunk": chunk, "n_docs_a": ra["n_docs"], "n_docs_b": rb["n_docs"]}
        flagged = chunk not in a or chunk not in b
        for rate, tol in tols.items():
            va, vb = ra[rate], rb[rate]
            delta = None if va is None or vb is None else vb - va
            row |= {f"{rate}_a": va, f"{rate}_b": vb, f"{rate}_delta": delta}
            flagged |= (va is None) != (vb is None) or (delta is not None and abs(delta) > tol)
        row["flagged"] = flagged
        report.append(row)
    return report


# --- figures: one SVG writer for the single rollup and the grid -------------


def _panel(rows: list[dict], title: str) -> dict:
    """One keep-rate/perplexity panel spec from rollup rows (a missing
    rate is drawn as 0)."""
    return {
        "title": title,
        "chunks": [r["chunk"] for r in rows],
        "keep": [float(r["keep_rate"] or 0.0) for r in rows],
        "ppl": [float(r["avg_ppl"] or 0.0) for r in rows],
    }


def render_rollup(out_dir: str, fig_path: str) -> str:
    """Render the rollup's keep-rate per chunk (bars) with the average
    perplexity (markers) as a one-panel figure. Returns the written path."""
    panel = _panel(metrics_rollup(out_dir), os.path.basename(os.path.normpath(out_dir)))
    return _write_svg(fig_path, "QA keep rate / perplexity per chunk", [(0, 0, panel)])


def grid_panels(out_root: str) -> list[dict]:
    """Walk a grid output root (run_grid layout:
    out_root/window=W/cohort=C/<hash>/metrics) and roll each combo up to
    one panel spec."""
    panels = []
    for m in sorted(
        glob.glob(os.path.join(out_root, "window=*", "cohort=*", "*", "metrics"))
    ):
        hashdir = os.path.dirname(m)
        cohort = os.path.basename(os.path.dirname(hashdir))
        window = os.path.basename(os.path.dirname(os.path.dirname(hashdir)))
        panel = _panel(metrics_rollup(hashdir), f"{window} / {cohort}")
        panels.append({"window": window, "cohort": cohort, **panel})
    return panels


def render_grid(out_root: str, fig_path: str) -> str:
    """Render every combo of a grid run as one figure: rows = windows,
    cols = cohorts (the reference's dimension-derived panel layout,
    isimip_qa/mixins/plots.py:116-158). Returns the written path."""
    panels = grid_panels(out_root)
    windows = sorted({p["window"] for p in panels})
    cohorts = sorted({p["cohort"] for p in panels})
    cells = [(windows.index(p["window"]), cohorts.index(p["cohort"]), p) for p in panels]
    return _write_svg(fig_path, "QA grid: keep rate / perplexity per chunk", cells)


_W, _H, _PAD, _HEAD = 640, 360, 48, 28


def _write_svg(fig_path: str, title: str, cells: list[tuple[int, int, dict]]) -> str:
    """Write one figure: a title line over a grid of panels, each cell
    (row, col, panel spec) in its own translated <g>."""
    nrows = max((r for r, _, _ in cells), default=0) + 1
    ncols = max((c for _, c, _ in cells), default=0) + 1
    w_total, h_total = _W * ncols, _H * nrows + _HEAD
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w_total}" '
        f'height="{h_total}" viewBox="0 0 {w_total} {h_total}">',
        f"<title>{title}</title>",
        f'<rect width="{w_total}" height="{h_total}" fill="white"/>',
        f'<text x="{w_total / 2}" y="20" font-size="15" '
        f'text-anchor="middle">{title}</text>',
    ]
    for row, col, p in cells:
        parts.append(
            f'<g class="panel" transform="translate({col * _W},{row * _H + _HEAD})">'
        )
        parts.extend(_svg_panel_elems(p["chunks"], p["keep"], p["ppl"], p["title"]))
        parts.append("</g>")
    parts.append("</svg>")
    os.makedirs(os.path.dirname(fig_path) or ".", exist_ok=True)
    with open(fig_path, "w") as f:
        f.write("\n".join(parts))
    return fig_path


def _svg_panel_elems(chunks, keep, ppl, title) -> list[str]:
    """One keep-rate/perplexity panel as SVG elements in a local
    (0,0)-(_W,_H) coordinate box."""
    n = max(len(chunks), 1)
    plot_w, plot_h = _W - 2 * _PAD, _H - 2 * _PAD
    bw = plot_w / n * 0.7
    ppl_max = max(ppl + [1.0])
    parts = [
        # axes
        f'<line x1="{_PAD}" y1="{_H - _PAD}" x2="{_W - _PAD}" y2="{_H - _PAD}" '
        f'stroke="black"/>',
        f'<line x1="{_PAD}" y1="{_PAD}" x2="{_PAD}" y2="{_H - _PAD}" '
        f'stroke="black"/>',
    ]
    pts = []
    for i, (c, k, p) in enumerate(zip(chunks, keep, ppl)):
        x0 = _PAD + plot_w * (i + 0.15) / n
        bh = plot_h * min(max(k, 0.0), 1.0)
        parts.append(
            f'<rect class="keep-bar" data-chunk="{c}" data-keep="{k:.4f}" '
            f'x="{x0:.1f}" y="{_H - _PAD - bh:.1f}" width="{bw:.1f}" '
            f'height="{bh:.1f}" fill="#4878a8"/>'
        )
        parts.append(
            f'<text x="{x0 + bw / 2:.1f}" y="{_H - _PAD + 16}" '
            f'font-size="11" text-anchor="middle">{c}</text>'
        )
        pts.append(
            (x0 + bw / 2, _H - _PAD - plot_h * (p / ppl_max if ppl_max else 0))
        )
    if len(pts) > 1:
        path = " ".join(f"{x:.1f},{y:.1f}" for x, y in pts)
        parts.append(
            f'<polyline class="ppl-line" points="{path}" fill="none" '
            f'stroke="#c0504d" stroke-width="2"/>'
        )
    for (x, y), p in zip(pts, ppl):
        parts.append(
            f'<circle class="ppl-pt" data-ppl="{p:.2f}" cx="{x:.1f}" '
            f'cy="{y:.1f}" r="3" fill="#c0504d"/>'
        )
    parts.append(
        f'<text x="{_W / 2}" y="24" font-size="14" text-anchor="middle">'
        f"{title}</text>"
    )
    return parts
