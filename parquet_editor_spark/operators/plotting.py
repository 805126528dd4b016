"""Plot-feeding computations (SURVEY.md §2.5) — the reference draws
line/scatter/histogram straight from the full DataFrame in RAM
(PlotWindow, main.pyc:362-383). At scale the ENGINE reduces data to a
plot-sized payload server-side; only the reduced frame crosses to the
client. Rendering itself is presentation: it takes the reduced pandas
frame and needs matplotlib (in the reference's requirements.txt:3 but
not in this container — gated behind an import-try, with the data
path fully real and tested).
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_editor_spark.operators import query as q
from parquet_editor_spark.operators.edit import RID, ordered_rid, with_rid


def line_series(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    max_points: int = 1000,
    order: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Line-plot series (main.pyc:371-374: index vs numeric columns),
    stride-downsampled so at most ~max_points rows reach the client
    regardless of table size. x = the row ordinal (the reference plots
    against the pandas index): the frame's own ``__rid`` when it has
    one and no ``order`` is given, so the plot follows the editor's
    row order after cuts, pastes and deletes.

    Otherwise the ordinal is built here and pinned only while the
    strided rows are collected: the result is then a local frame of
    those rows, so nothing stays persisted once it is consumed."""
    cols = list(cols or [c for c in q.numeric_columns(df) if c != RID])
    if not cols:
        raise ValueError("no numeric columns to plot")  # main.pyc:405-416
    if order is None and RID in df.columns:
        return _strided(df.select(RID, *cols), max_points)
    pinned = ordered_rid(df, list(order)) if order is not None else with_rid(df.select(*cols))
    try:
        series = _strided(pinned.select(RID, *cols), max_points)
        return df.sparkSession.createDataFrame(series.collect(), series.schema)
    finally:
        pinned.unpersist()


def _strided(d: DataFrame, max_points: int) -> DataFrame:
    """Every ``ceil(n / max_points)``-th ordinal of ``d`` as ``x``."""
    stride = max(1, math.ceil(d.count() / max_points))
    return d.filter(F.col(RID) % stride == 0).select(
        F.col(RID).alias("x"), *[c for c in d.columns if c != RID]
    )


def scatter_sample(
    df: DataFrame, x: str, y: str, fraction: float = 0.01, seed: int = 42
) -> DataFrame:
    """Scatter at scale, option 1: Bernoulli sample (seeded). For
    density-faithful plots at extreme scale prefer ``query.bin2d``."""
    return df.select(x, y).sample(fraction=fraction, seed=seed)


def histogram_data(df: DataFrame, column: str, bins: int = 20) -> DataFrame:
    """Histogram (main.pyc:381) with an auto-computed bin width from
    one min/max pass — the two aggregates + binning both run
    server-side; #bins rows cross to the client."""
    lo, hi = df.agg(F.min(column), F.max(column)).first()
    if lo is None or hi == lo:
        width = 1.0
    else:
        width = (hi - lo) / bins
    return q.histogram(df, column, width)


def render_line(pdf, x: str = "x"):  # pragma: no cover - needs matplotlib
    """Presentation step: reduced pandas frame → matplotlib figure.
    Gated: matplotlib is in the reference's requirements but not this
    container."""
    try:
        import matplotlib.pyplot as plt
    except ImportError as e:
        raise NotImplementedError(
            "rendering needs matplotlib; not available in this environment — "
            "use the reduced DataFrame from line_series/histogram_data directly"
        ) from e
    fig, ax = plt.subplots()
    for c in pdf.columns:
        if c != x:
            ax.plot(pdf[x], pdf[c], label=c)
    ax.legend()
    return fig


# ---------------------------------------------------------------------------
# dependency-free SVG rendering (round 5): the reference's PlotWindow
# (main.pyc:362-383) draws line/scatter/histogram with matplotlib; this
# backend renders the same reduced frames to standalone SVG with string
# formatting only, so the plot surface works END-TO-END in environments
# without matplotlib.  matplotlib, when present, remains available via
# render_line.
# ---------------------------------------------------------------------------

_SVG_COLORS = ["#1f77b4", "#ff7f0e", "#2ca02c", "#d62728", "#9467bd",
               "#8c564b", "#e377c2", "#7f7f7f", "#bcbd22", "#17becf"]


def _xml_escape(s):
    from xml.sax.saxutils import escape

    return escape(str(s))


def _scale(vals, lo, hi, out_lo, out_hi):
    span = (hi - lo) or 1.0
    return [
        out_lo + (float(v) - lo) / span * (out_hi - out_lo) for v in vals
    ]


def _svg_frame(width, height, title):
    from xml.sax.saxutils import escape

    return (
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
        f'height="{height}" viewBox="0 0 {width} {height}">'
        f'<rect width="{width}" height="{height}" fill="white"/>'
        f'<text x="{width / 2}" y="16" text-anchor="middle" '
        f'font-family="sans-serif" font-size="13">{escape(str(title))}</text>'
    )


def render_line_svg(
    pdf, x: str = "x", width: int = 640, height: int = 400,
    title: str = "line",
) -> str:
    """Reduced line-series frame (``line_series`` output) → standalone
    SVG string: one polyline per non-x column, min-max scaled into the
    plot box, with a simple legend.  Pure string formatting — no
    matplotlib, no numpy."""
    import pandas as pd

    ys = [c for c in pdf.columns if c != x]
    if not ys or len(pdf) == 0:
        raise ValueError("nothing to plot: need rows and >=1 y column")
    pad, legend_h = 30, 14 * len(ys)
    pdf = pdf[pdf[x].notna()]
    if len(pdf) == 0:
        raise ValueError("nothing to plot: all x values are null")
    xs = [float(v) for v in pdf[x]]
    # pd.notna, not `is not None`: numeric-column nulls surface as NaN
    # in pandas, which would slip past a None check into the y bounds
    # and emit "nan,nan" polyline points (r6 ADVICE)
    all_y = [float(v) for c in ys for v in pdf[c] if pd.notna(v)]
    x_lo, x_hi = min(xs), max(xs)
    y_lo, y_hi = (min(all_y), max(all_y)) if all_y else (0.0, 1.0)
    px = _scale(xs, x_lo, x_hi, pad, width - pad)
    parts = [_svg_frame(width, height + legend_h, title)]
    for k, c in enumerate(ys):
        color = _SVG_COLORS[k % len(_SVG_COLORS)]
        pts = " ".join(
            f"{xx:.2f},{yy:.2f}"
            for xx, yy, v in zip(
                px,
                _scale(
                    [0.0 if pd.isna(v) else float(v) for v in pdf[c]],
                    y_lo, y_hi, height - pad, pad,
                ),
                pdf[c],
            )
            if pd.notna(v)
        )
        parts.append(
            f'<polyline fill="none" stroke="{color}" stroke-width="1.5" '
            f'points="{pts}"/>'
        )
        ly = height + 12 + 14 * k
        parts.append(
            f'<rect x="{pad}" y="{ly - 8}" width="10" height="10" '
            f'fill="{color}"/>'
            f'<text x="{pad + 14}" y="{ly}" font-family="sans-serif" '
            f'font-size="11">{_xml_escape(c)}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def render_histogram_svg(
    pdf, bin_col: str = "bin", count_col: str = "n",
    width: int = 640, height: int = 400, title: str = "histogram",
) -> str:
    """Reduced histogram frame (``histogram_data`` output: one row per
    bin) → standalone SVG bar chart."""
    if len(pdf) == 0:
        raise ValueError("nothing to plot: empty histogram frame")
    pad = 30
    rows = sorted(
        zip([float(v) for v in pdf[bin_col]],
            [int(v) for v in pdf[count_col]])
    )
    max_n = max(n for _, n in rows) or 1
    bar_w = (width - 2 * pad) / len(rows)
    parts = [_svg_frame(width, height, title)]
    for i, (_b, n) in enumerate(rows):
        bh = (height - 2 * pad) * n / max_n
        parts.append(
            f'<rect x="{pad + i * bar_w:.2f}" '
            f'y="{height - pad - bh:.2f}" width="{bar_w * 0.9:.2f}" '
            f'height="{bh:.2f}" fill="{_SVG_COLORS[0]}"/>'
        )
    parts.append("</svg>")
    return "".join(parts)


def render_scatter_svg(
    pdf, x: str, y: str, width: int = 640, height: int = 400,
    title: str = "scatter", r: float = 2.0,
) -> str:
    """Reduced scatter frame (``scatter_sample`` or ``query.bin2d``
    output) → standalone SVG circles; with a ``bin2d`` frame pass the
    bin columns and the count column as ``r_col`` sizing is not needed
    — density plots read better re-binned upstream."""
    if len(pdf) == 0:
        raise ValueError("nothing to plot: empty scatter frame")
    pdf = pdf[pdf[x].notna() & pdf[y].notna()]
    if len(pdf) == 0:
        raise ValueError("nothing to plot: all scatter points have null x/y")
    xs = [float(v) for v in pdf[x]]
    ys = [float(v) for v in pdf[y]]
    pad = 30
    px = _scale(xs, min(xs), max(xs), pad, width - pad)
    py = _scale(ys, min(ys), max(ys), height - pad, pad)
    parts = [_svg_frame(width, height, title)]
    parts.extend(
        f'<circle cx="{a:.2f}" cy="{b:.2f}" r="{r}" '
        f'fill="{_SVG_COLORS[0]}" fill-opacity="0.55"/>'
        for a, b in zip(px, py)
    )
    parts.append("</svg>")
    return "".join(parts)
