"""Figure sink — the reference's plot phase (S11 analogue).

The reference's plots re-read extraction artifacts, aggregate in pandas,
and render a grid of matplotlib panels to SVG/PNG
(/root/reference/isimip_qa/mixins/plots.py:17-28,116-158,
/root/reference/isimip_qa/plots/*.py). The engine-side math of every plot
(A10-A15) already lives in oracle-checked queries; this module closes the
*presentation* entry point: roll the QA metrics table (the artifact
analogue: one small parquet file per out_dir, rebuilt from the chunk
manifests at every publish) up per chunk and render one figure. The plot
phase runs no Spark: it reads that file with pyarrow on the driver.

Rendering backends: matplotlib when importable (savefig, like the
reference's Figure sink, mixins/plots.py:17-28); otherwise a dependency-free
deterministic SVG writer — same data, same artifact contract, testable in
environments without plotting libs."""

from __future__ import annotations

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
    sums = m.group_by("chunk").aggregate([(c, "sum") for c in cols]).sort_by("chunk")
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


def render_rollup(out_dir: str, fig_path: str) -> str:
    """Render the rollup's keep-rate per chunk (bars) with the average
    perplexity (markers). Returns the written path."""
    rows = metrics_rollup(out_dir)
    chunks = [r["chunk"] for r in rows]
    keep = [float(r["keep_rate"] or 0.0) for r in rows]
    ppl = [float(r["avg_ppl"] or 0.0) for r in rows]
    os.makedirs(os.path.dirname(fig_path) or ".", exist_ok=True)
    try:
        import matplotlib  # noqa: F401

        return _render_matplotlib(fig_path, chunks, keep, ppl)
    except ImportError:
        return _render_svg(fig_path, chunks, keep, ppl)


def _render_matplotlib(fig_path, chunks, keep, ppl) -> str:
    import matplotlib

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt

    fig, ax1 = plt.subplots(figsize=(8, 4.5))
    ax1.bar([str(c) for c in chunks], keep)
    ax1.set_ylabel("keep rate")
    ax1.set_xlabel("chunk")
    ax1.set_ylim(0, 1)
    ax2 = ax1.twinx()
    ax2.plot([str(c) for c in chunks], ppl, marker="o")
    ax2.set_ylabel("avg perplexity")
    fig.suptitle("QA keep rate / perplexity per chunk")
    fig.savefig(fig_path)
    plt.close(fig)
    return fig_path


# --- multi-panel figure grid (the reference's figs × rows × cols layout,
# /root/reference/isimip_qa/mixins/plots.py:116-158: panel position derived
# from the scope dimensions) — one panel per (window × cohort) combo -------


def grid_panels(out_root: str) -> list[dict]:
    """Walk a grid output root (run_grid layout:
    out_root/window=W/cohort=C/<hash>/metrics) and roll each combo up to
    one panel spec."""
    import glob

    panels = []
    for m in sorted(
        glob.glob(os.path.join(out_root, "window=*", "cohort=*", "*", "metrics"))
    ):
        hashdir = os.path.dirname(m)
        cohort = os.path.basename(os.path.dirname(hashdir))
        window = os.path.basename(os.path.dirname(os.path.dirname(hashdir)))
        rows = metrics_rollup(hashdir)
        panels.append(
            {
                "window": window,
                "cohort": cohort,
                "title": f"{window} / {cohort}",
                "chunks": [r["chunk"] for r in rows],
                "keep": [float(r["keep_rate"] or 0.0) for r in rows],
                "ppl": [float(r["avg_ppl"] or 0.0) for r in rows],
            }
        )
    return panels


def render_grid(out_root: str, fig_path: str) -> str:
    """Render every combo of a grid run as one figure: rows = windows,
    cols = cohorts (the reference's dimension-derived panel layout).
    Returns the written path; same backend split as render_rollup."""
    panels = grid_panels(out_root)
    windows = sorted({p["window"] for p in panels})
    cohorts = sorted({p["cohort"] for p in panels})
    os.makedirs(os.path.dirname(fig_path) or ".", exist_ok=True)
    try:
        import matplotlib  # noqa: F401

        return _render_grid_matplotlib(fig_path, panels, windows, cohorts)
    except ImportError:
        return _render_grid_svg(fig_path, panels, windows, cohorts)


def _render_grid_matplotlib(fig_path, panels, windows, cohorts) -> str:
    import matplotlib

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt

    nrows, ncols = max(len(windows), 1), max(len(cohorts), 1)
    fig, axes = plt.subplots(
        nrows, ncols, figsize=(4.5 * ncols, 3 * nrows), squeeze=False
    )
    for p in panels:
        ax = axes[windows.index(p["window"])][cohorts.index(p["cohort"])]
        ax.bar([str(c) for c in p["chunks"]], p["keep"])
        ax.set_ylim(0, 1)
        ax.set_title(p["title"], fontsize=9)
        ax2 = ax.twinx()
        ax2.plot([str(c) for c in p["chunks"]], p["ppl"], marker="o", color="#c0504d")
    fig.suptitle("QA grid: keep rate / perplexity per chunk")
    fig.tight_layout()
    fig.savefig(fig_path)
    plt.close(fig)
    return fig_path


def _render_grid_svg(fig_path, panels, windows, cohorts) -> str:
    nrows, ncols = max(len(windows), 1), max(len(cohorts), 1)
    w_total, h_total = _W * ncols, _H * nrows + 28
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w_total}" '
        f'height="{h_total}" viewBox="0 0 {w_total} {h_total}">',
        "<title>QA grid: keep rate / perplexity per chunk</title>",
        f'<rect width="{w_total}" height="{h_total}" fill="white"/>',
        f'<text x="{w_total / 2}" y="20" font-size="15" '
        f'text-anchor="middle">QA grid: keep rate / perplexity per chunk</text>',
    ]
    for p in panels:
        x0 = cohorts.index(p["cohort"]) * _W
        y0 = windows.index(p["window"]) * _H + 28
        parts.append(f'<g class="panel" transform="translate({x0},{y0})">')
        parts.extend(
            _svg_panel_elems(p["chunks"], p["keep"], p["ppl"], p["title"])
        )
        parts.append("</g>")
    parts.append("</svg>")
    with open(fig_path, "w") as f:
        f.write("\n".join(parts))
    return fig_path


# --- dependency-free SVG backend -------------------------------------------

_W, _H, _PAD = 640, 360, 48


def _svg_panel_elems(chunks, keep, ppl, title) -> list[str]:
    """One keep-rate/perplexity panel as SVG elements in a local
    (0,0)-(_W,_H) coordinate box — shared by the single figure and the
    multi-panel grid (wrapped in a translated <g>)."""
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


def _render_svg(fig_path, chunks, keep, ppl) -> str:
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{_W}" height="{_H}" '
        f'viewBox="0 0 {_W} {_H}">',
        "<title>QA keep rate / perplexity per chunk</title>",
        f'<rect width="{_W}" height="{_H}" fill="white"/>',
        *_svg_panel_elems(
            chunks, keep, ppl, "QA keep rate / perplexity per chunk"
        ),
        "</svg>",
    ]
    with open(fig_path, "w") as f:
        f.write("\n".join(parts))
    return fig_path
