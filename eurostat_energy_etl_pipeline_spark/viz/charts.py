"""K4 chart sink — the reference's PNG dashboard charts, without matplotlib.

Mirrors /root/reference/viz/viz_utils.py:28-88: three chart products
(single-country trend line, top-10 horizontal bar, country x year heatmap)
written as PNG files. The reference pulls the ENTIRE observations table to
the driver and subsets in pandas; here each chart is one Spark job over a
cached session view (a filtered scan of `observations`, or a filter/top-k
over its per-(country, indicator, year) totals), so only one series'
(year, value) points, 10 bars or a bounded country x year matrix ever reach
the driver — the shape that still works when `observations` is 100 TB.
Rasterisation is plain numpy + the stdlib PNG codec in
:mod:`eurostat_energy_etl_pipeline_spark.viz.png`; output is deterministic
byte-for-byte for fixed input data.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.catalog import (
    cached_view,
    observations_view,
    session_memo,
)
from eurostat_energy_etl_pipeline_spark.viz.png import encode_png

# ---------------------------------------------------------------------------
# Raster primitives
# ---------------------------------------------------------------------------

# 3x5 bitmap font: glyph -> 5 row patterns, 3 bits each (MSB = left pixel).
_FONT = {
    "0": (7, 5, 5, 5, 7), "1": (2, 6, 2, 2, 7), "2": (7, 1, 7, 4, 7),
    "3": (7, 1, 7, 1, 7), "4": (5, 5, 7, 1, 1), "5": (7, 4, 7, 1, 7),
    "6": (7, 4, 7, 5, 7), "7": (7, 1, 1, 2, 2), "8": (7, 5, 7, 5, 7),
    "9": (7, 5, 7, 1, 7), "A": (2, 5, 7, 5, 5), "B": (6, 5, 6, 5, 6),
    "C": (3, 4, 4, 4, 3), "D": (6, 5, 5, 5, 6), "E": (7, 4, 6, 4, 7),
    "F": (7, 4, 6, 4, 4), "G": (3, 4, 5, 5, 3), "H": (5, 5, 7, 5, 5),
    "I": (7, 2, 2, 2, 7), "J": (1, 1, 1, 5, 2), "K": (5, 6, 4, 6, 5),
    "L": (4, 4, 4, 4, 7), "M": (5, 7, 7, 5, 5), "N": (5, 7, 7, 7, 5),
    "O": (2, 5, 5, 5, 2), "P": (6, 5, 6, 4, 4), "Q": (2, 5, 5, 6, 3),
    "R": (6, 5, 6, 6, 5), "S": (3, 4, 2, 1, 6), "T": (7, 2, 2, 2, 2),
    "U": (5, 5, 5, 5, 7), "V": (5, 5, 5, 5, 2), "W": (5, 5, 7, 7, 5),
    "X": (5, 5, 2, 5, 5), "Y": (5, 5, 2, 2, 2), "Z": (7, 1, 2, 4, 7),
    "-": (0, 0, 7, 0, 0), ".": (0, 0, 0, 0, 2), "_": (0, 0, 0, 0, 7),
    " ": (0, 0, 0, 0, 0), "%": (5, 1, 2, 4, 5), ":": (0, 2, 0, 2, 0),
}

WHITE = (255, 255, 255)
BLACK = (30, 30, 30)
GRID = (210, 210, 210)
SERIES = (31, 119, 180)  # the classic tab10 line/bar blue
NAN_GRAY = (235, 235, 235)


def _canvas(w: int, h: int) -> np.ndarray:
    c = np.empty((h, w, 3), dtype=np.uint8)
    c[:] = WHITE
    return c


def _rect(img: np.ndarray, x0: int, y0: int, x1: int, y1: int, color) -> None:
    h, w = img.shape[:2]
    x0, x1 = max(0, min(x0, x1)), min(w, max(x0, x1))
    y0, y1 = max(0, min(y0, y1)), min(h, max(y0, y1))
    if x1 > x0 and y1 > y0:
        img[y0:y1, x0:x1] = color


def _polyline(img: np.ndarray, xs: np.ndarray, ys: np.ndarray, color, thick: int = 1) -> None:
    """Dense-sampled draw of the segments joining consecutive (xs, ys)
    points, all in one numpy pass (no aliasing needed for chart lines).

    Segment i gets n_i = int(max(|dx|, |dy|, 1)) * 2 + 1 samples at
    ``k * step + start`` with the last one set to the end point: the
    arithmetic of ``np.linspace(start, stop, n_i)``, so the pixels match a
    per-segment linspace draw exactly."""
    x0, x1, y0, y1 = xs[:-1], xs[1:], ys[:-1], ys[1:]
    n = np.maximum(np.maximum(np.abs(x1 - x0), np.abs(y1 - y0)), 1).astype(int) * 2 + 1
    seg = np.repeat(np.arange(len(n)), n)
    ends = np.cumsum(n)
    k = (np.arange(ends[-1]) - (ends - n)[seg]).astype(float)

    def sample(a0, a1):
        v = k * ((a1 - a0) / (n - 1))[seg] + a0[seg]
        v[ends - 1] = a1
        return np.rint(v).astype(int)

    px, py = sample(x0, x1), sample(y0, y1)
    h, w = img.shape[:2]
    r = thick // 2
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            xi, yi = px + dx, py + dy
            ok = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
            img[yi[ok], xi[ok]] = color


def _text(img: np.ndarray, x: int, y: int, s: str, color=BLACK, scale: int = 1) -> int:
    """Render `s` with the 3x5 font at (x, y) top-left; returns end x."""
    cx = x
    for ch in str(s).upper():
        rows = _FONT.get(ch, _FONT[" "])
        for ry, pat in enumerate(rows):
            for rx in range(3):
                if pat & (4 >> rx):
                    _rect(
                        img,
                        cx + rx * scale,
                        y + ry * scale,
                        cx + (rx + 1) * scale,
                        y + (ry + 1) * scale,
                        color,
                    )
        cx += 4 * scale
    return cx


def _viridis(t: np.ndarray) -> np.ndarray:
    """Piecewise-linear approximation of the public viridis colormap."""
    anchors = np.array(
        [[68, 1, 84], [59, 82, 139], [33, 145, 140], [94, 201, 98], [253, 231, 37]],
        dtype=float,
    )
    t = np.clip(np.asarray(t, dtype=float), 0.0, 1.0) * (len(anchors) - 1)
    lo = np.clip(t.astype(int), 0, len(anchors) - 2)
    frac = (t - lo)[..., None]
    return (anchors[lo] * (1 - frac) + anchors[lo + 1] * frac).astype(np.uint8)


def _ticks(lo: float, hi: float, n: int = 5) -> list[float]:
    if hi <= lo:
        hi = lo + 1.0
    step = (hi - lo) / (n - 1)
    return [lo + i * step for i in range(n)]


def _fmt(v: float) -> str:
    if abs(v) >= 1000:
        return f"{v:,.0f}".replace(",", " ")
    if float(v).is_integer():
        return str(int(v))
    return f"{v:.2f}"


# ---------------------------------------------------------------------------
# Chart renderers (pure functions of their data; deterministic rasters)
# ---------------------------------------------------------------------------

_MARGIN = {"left": 72, "right": 16, "top": 26, "bottom": 34}


def line_chart(xs, ys, *, title: str, width: int = 960, height: int = 480) -> np.ndarray:
    """Trend line with square markers, y gridlines, tick labels
    (/root/reference/viz/viz_utils.py:37-55)."""
    xs = np.asarray(xs, dtype=float)
    ys = np.asarray(ys, dtype=float)
    img = _canvas(width, height)
    m = _MARGIN
    px0, px1 = m["left"], width - m["right"]
    py0, py1 = m["top"], height - m["bottom"]
    _text(img, px0, 8, title, scale=2)
    if xs.size == 0:
        return img
    xlo, xhi = float(xs.min()), float(xs.max())
    ylo, yhi = float(ys.min()), float(ys.max())
    if xhi == xlo:
        xhi = xlo + 1
    pad = (yhi - ylo) * 0.05 or 1.0
    ylo, yhi = ylo - pad, yhi + pad

    def sx(v):
        return px0 + (v - xlo) / (xhi - xlo) * (px1 - px0 - 1)

    def sy(v):
        return py1 - 1 - (v - ylo) / (yhi - ylo) * (py1 - py0 - 1)

    for tv in _ticks(ylo, yhi):
        yy = int(sy(tv))
        _rect(img, px0, yy, px1, yy + 1, GRID)
        _text(img, 4, yy - 2, _fmt(tv))
    for tv in _ticks(xlo, xhi):
        xx = int(sx(tv))
        _rect(img, xx, py0, xx + 1, py1, GRID)
        _text(img, xx - 8, py1 + 6, _fmt(tv))
    _rect(img, px0, py0, px0 + 1, py1, BLACK)
    _rect(img, px0, py1 - 1, px1, py1, BLACK)
    order = np.argsort(xs, kind="stable")
    xs, ys = xs[order], ys[order]
    if len(xs) > 1:
        _polyline(img, sx(xs), sy(ys), SERIES, thick=2)
    for x, y in zip(xs, ys):
        _rect(img, int(sx(x)) - 2, int(sy(y)) - 2, int(sx(x)) + 3, int(sy(y)) + 3, SERIES)
    return img


def barh_chart(labels, values, *, title: str, width: int = 800, height: int = 480) -> np.ndarray:
    """Horizontal bar chart, longest-first ordering preserved from input
    (/root/reference/viz/viz_utils.py:58-68)."""
    values = np.asarray(values, dtype=float)
    img = _canvas(width, height)
    m = _MARGIN
    px0, px1 = m["left"], width - m["right"]
    py0, py1 = m["top"], height - m["bottom"]
    _text(img, px0, 8, title, scale=2)
    if values.size == 0:
        return img
    vmax = float(values.max()) or 1.0
    for tv in _ticks(0.0, vmax):
        xx = int(px0 + tv / vmax * (px1 - px0 - 1))
        _rect(img, xx, py0, xx + 1, py1, GRID)
        _text(img, xx - 8, py1 + 6, _fmt(tv))
    n = len(values)
    slot = (py1 - py0) // max(n, 1)
    bar_h = max(int(slot * 0.7), 3)
    for i, (lab, v) in enumerate(zip(labels, values)):
        y = py0 + i * slot + (slot - bar_h) // 2
        _rect(img, px0, y, int(px0 + v / vmax * (px1 - px0 - 1)), y + bar_h, SERIES)
        _text(img, 4, y + bar_h // 2 - 2, str(lab)[:16])
    _rect(img, px0, py0, px0 + 1, py1, BLACK)
    _rect(img, px0, py1 - 1, px1, py1, BLACK)
    return img


def heatmap_chart(row_labels, col_labels, matrix, *, title: str, width: int = 960, height: int = 640) -> np.ndarray:
    """Country x year heatmap, viridis scale, gray cell grid, NaN cells
    light gray (/root/reference/viz/viz_utils.py:71-81)."""
    mat = np.asarray(matrix, dtype=float)
    img = _canvas(width, height)
    m = _MARGIN
    px0, px1 = m["left"], width - m["right"]
    py0, py1 = m["top"], height - m["bottom"]
    _text(img, px0, 8, title, scale=2)
    if mat.size == 0:
        return img
    finite = mat[np.isfinite(mat)]
    vlo = float(finite.min()) if finite.size else 0.0
    vhi = float(finite.max()) if finite.size else 1.0
    span = (vhi - vlo) or 1.0
    nr, nc = mat.shape
    cw = (px1 - px0) // nc
    ch = (py1 - py0) // nr
    colors = _viridis((np.nan_to_num(mat, nan=vlo) - vlo) / span)
    for r in range(nr):
        for c in range(nc):
            x, y = px0 + c * cw, py0 + r * ch
            cell = colors[r, c] if np.isfinite(mat[r, c]) else np.array(NAN_GRAY, np.uint8)
            img[y : y + ch, x : x + cw] = cell
            _rect(img, x, y, x + cw, y + 1, GRID)
            _rect(img, x, y, x + 1, y + ch, GRID)
    for r in range(nr):
        if nr <= 40 or r % max(nr // 40, 1) == 0:
            _text(img, 4, py0 + r * ch + max(ch // 2 - 2, 0), str(row_labels[r])[:16])
    for c in range(nc):
        if nc <= 24 or c % max(nc // 24, 1) == 0:
            _text(img, px0 + c * cw + 1, py1 + 6, str(col_labels[c])[:6])
    return img


# ---------------------------------------------------------------------------
# The sink: one Spark job per chart -> bounded collect -> raster -> PNG file.
# The per-(country, indicator, year) totals and the latest year are
# session state, built by the first top-10 or heatmap chart.
# ---------------------------------------------------------------------------

# A heatmap wider than this many cells cannot be *rendered* meaningfully;
# refuse rather than silently collecting an unbounded matrix to the driver.
MAX_HEATMAP_CELLS = 200_000


def _totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session view: ``sum(value::double)`` per (country, indicator, yr),
    the grain the top-10 and heatmap charts read (at most countries x
    indicators x years rows)."""
    return cached_view(
        "observation_totals",
        spark,
        sf_dir,
        lambda: observations_view(spark, sf_dir)
        .groupBy("country_code", "indicator_code", F.year("time").cast("int").alias("yr"))
        .agg(F.sum(F.col("value").cast("double")).alias("total")),
    )


_LATEST_YEAR: dict = {}


def _latest_year(spark: SparkSession, sf_dir: str) -> int | None:
    """Latest observation year, read once per session."""
    return session_memo(
        _LATEST_YEAR,
        spark,
        sf_dir,
        lambda: _totals(spark, sf_dir).agg(F.max("yr")).collect()[0][0],
    )


def _spark_asc(point: tuple) -> tuple:
    """Sort key of Spark's ascending order (nulls first)."""
    return tuple((v is not None, v) for v in point)


def plot_country_trend(spark: SparkSession, sf_dir: str, out_dir: str,
                       country_code: str, indicator_code: str) -> str | None:
    """Reference plot 1 (viz_utils.py:37-55): one country's indicator over
    time. One filtered scan of the cached observations view collects the
    series' (yr, value) points; the driver keeps the distinct ones, several
    per year (one per distinct observation value), in (yr, value) order."""
    rows = (
        observations_view(spark, sf_dir)
        .where((F.col("country_code") == country_code)
               & (F.col("indicator_code") == indicator_code))
        .select(F.year("time").cast("int").alias("yr"), F.col("value").cast("double"))
        .collect()
    )
    if not rows:
        return None  # reference prints "No data" and skips the file
    points = sorted({(r["yr"], r["value"]) for r in rows}, key=_spark_asc)
    img = line_chart(
        [yr for yr, _ in points],
        [v for _, v in points],
        title=f"{indicator_code} TREND FOR {country_code}",
    )
    path = os.path.join(out_dir, f"{country_code}_{indicator_code}_trend.png")
    with open(path, "wb") as f:
        f.write(encode_png(img))
    return path


def plot_top_countries(spark: SparkSession, sf_dir: str, out_dir: str,
                       indicator_code: str) -> str | None:
    """Reference plot 2 (viz_utils.py:58-68): latest-year per-country SUM,
    10 largest. The latest year is a session memo filtered on as a
    literal; the top-k is one TakeOrderedAndProject over the per-(country,
    indicator, year) totals view."""
    year = _latest_year(spark, sf_dir)
    rows = (
        _totals(spark, sf_dir)
        .where((F.col("indicator_code") == indicator_code) & (F.col("yr") == year))
        .orderBy(F.desc("total"), "country_code")
        .limit(10)
        .select("country_code", "total")
        .collect()
    )
    if not rows:
        return None
    img = barh_chart(
        [r["country_code"] for r in rows],
        [r["total"] for r in rows],
        title=f"TOP 10 COUNTRIES BY {indicator_code} IN {year}",
    )
    path = os.path.join(out_dir, f"top_10_{indicator_code}_{year}.png")
    with open(path, "wb") as f:
        f.write(encode_png(img))
    return path


def plot_heatmap(spark: SparkSession, sf_dir: str, out_dir: str,
                 indicator_code: str) -> str | None:
    """Reference plot 3 (viz_utils.py:71-81): country x year sum matrix.
    One filtered collect of the indicator's long-form rows of the totals
    view; the driver pivots the bounded matrix."""
    rows = (
        _totals(spark, sf_dir)
        .where(F.col("indicator_code") == indicator_code)
        .select("country_code", "yr", "total")
        .collect()
    )
    if not rows:
        return None
    countries = sorted({r["country_code"] for r in rows})
    years = sorted({r["yr"] for r in rows})
    if len(countries) * len(years) > MAX_HEATMAP_CELLS:
        raise ValueError(
            f"heatmap matrix {len(countries)}x{len(years)} exceeds "
            f"MAX_HEATMAP_CELLS={MAX_HEATMAP_CELLS}; filter the input first"
        )
    ci = {c: i for i, c in enumerate(countries)}
    yi = {y: i for i, y in enumerate(years)}
    mat = np.full((len(countries), len(years)), np.nan)
    for r in rows:
        mat[ci[r["country_code"]], yi[r["yr"]]] = r["total"]
    img = heatmap_chart(countries, years, mat,
                        title=f"HEATMAP OF {indicator_code} OVER TIME")
    path = os.path.join(out_dir, f"heatmap_{indicator_code}.png")
    with open(path, "wb") as f:
        f.write(encode_png(img))
    return path


def generate_all(spark: SparkSession, sf_dir: str, out_dir: str,
                 country_code: str = "NATION_7",
                 indicator_code: str = "GEP") -> list[str]:
    """The reference's `generate_all` (viz_utils.py:84-88): all three chart
    files for one (country, indicator). Returns the written paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = [
        plot_country_trend(spark, sf_dir, out_dir, country_code, indicator_code),
        plot_top_countries(spark, sf_dir, out_dir, indicator_code),
        plot_heatmap(spark, sf_dir, out_dir, indicator_code),
    ]
    return [p for p in paths if p]
