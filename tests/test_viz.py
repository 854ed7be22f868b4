"""K4 PNG chart sink: codec validity, raster semantics, end-to-end files.

The chart *data* is oracle-checked elsewhere (q_dash_* differentials);
these tests pin the sink itself: valid deterministic PNGs whose pixels
encode the data (bar length ordering, heatmap color scale, trend extent),
mirroring /root/reference/viz/viz_utils.py:37-88.
"""

from __future__ import annotations

import numpy as np
import pytest

from eurostat_energy_etl_pipeline_spark.viz import (
    barh_chart,
    decode_png,
    encode_png,
    generate_all,
    heatmap_chart,
    line_chart,
)
from eurostat_energy_etl_pipeline_spark.viz.charts import SERIES, _viridis


# ---------------------------------------------------------------------- codec
def test_png_roundtrip_exact():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(23, 41, 3), dtype=np.uint8)
    data = encode_png(img)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    out = decode_png(data)
    assert out.shape == (23, 41, 3)
    assert (out == img).all()


def test_png_deterministic_bytes():
    img = np.zeros((5, 5, 3), dtype=np.uint8)
    img[2, 2] = (255, 0, 0)
    assert encode_png(img) == encode_png(img)


def test_png_rejects_bad_shape():
    with pytest.raises(ValueError):
        encode_png(np.zeros((4, 4), dtype=np.uint8))


# -------------------------------------------------------------------- rasters
def test_barh_lengths_proportional():
    img = barh_chart(["A", "B", "C"], [100.0, 50.0, 25.0], title="T")
    series = (img == np.array(SERIES, np.uint8)).all(axis=2)
    # Bar row extents: count series pixels per row, group into 3 bars.
    row_counts = series.sum(axis=1)
    bar_rows = np.where(row_counts > 5)[0]
    groups = np.split(bar_rows, np.where(np.diff(bar_rows) > 1)[0] + 1)
    lens = [row_counts[g].max() for g in groups if len(g) > 2]
    assert len(lens) == 3
    assert lens[0] > lens[1] > lens[2]
    # 100 vs 50 vs 25: lengths within 5% of 2x / 4x ratios.
    assert abs(lens[0] / lens[1] - 2.0) < 0.1
    assert abs(lens[0] / lens[2] - 4.0) < 0.2


def test_line_chart_marks_every_point():
    img = line_chart([2000, 2001, 2002], [1.0, 3.0, 2.0], title="T")
    series = (img == np.array(SERIES, np.uint8)).all(axis=2)
    # Markers are 5x5 squares at three distinct x positions.
    cols = np.where(series.any(axis=0))[0]
    assert cols.size > 0 and cols.max() - cols.min() > 500  # spans plot width
    # Peak y (value 3.0) sits above the endpoints' y pixels.
    mid_rows = np.where(series[:, (cols.min() + cols.max()) // 2 - 5 :].any(axis=1))[0]
    assert mid_rows.size > 0


def test_heatmap_colors_follow_scale():
    mat = np.array([[0.0, 50.0], [100.0, np.nan]])
    img = heatmap_chart(["R1", "R2"], [2000, 2001], mat, title="T")
    lo_color = _viridis(np.array(0.0))
    hi_color = _viridis(np.array(1.0))
    flat = img.reshape(-1, 3)
    assert (flat == lo_color).all(axis=1).any(), "min cell color present"
    assert (flat == hi_color).all(axis=1).any(), "max cell color present"
    assert (flat == np.array([235, 235, 235])).all(axis=1).any(), "NaN gray present"


def test_viridis_endpoints_and_monotone_green():
    assert tuple(_viridis(np.array(0.0))) == (68, 1, 84)
    assert tuple(_viridis(np.array(1.0))) == (253, 231, 37)
    greens = [_viridis(np.array(t))[1] for t in (0.0, 0.25, 0.5, 0.75, 1.0)]
    assert greens == sorted(greens)


# --------------------------------------------------------------- end-to-end
def test_generate_all_writes_three_valid_pngs(spark, sf_dir, tmp_path):
    paths = generate_all(spark, sf_dir, str(tmp_path))
    assert len(paths) == 3
    names = sorted(p.rsplit("/", 1)[1] for p in paths)
    assert names[0].startswith("NATION_7_GEP_trend")
    assert names[1].startswith("heatmap_GEP")
    assert names[2].startswith("top_10_GEP_")
    for p in paths:
        with open(p, "rb") as f:
            img = decode_png(f.read())
        assert img.shape[0] >= 480 and img.shape[1] >= 800
        # Not a blank canvas: some non-white, non-grid ink.
        assert (img != 255).any()


def test_generate_all_deterministic(spark, sf_dir, tmp_path):
    a = generate_all(spark, sf_dir, str(tmp_path / "a"))
    b = generate_all(spark, sf_dir, str(tmp_path / "b"))
    for pa, pb in zip(sorted(a), sorted(b)):
        assert open(pa, "rb").read() == open(pb, "rb").read()


def test_trend_skips_missing_country(spark, sf_dir, tmp_path):
    from eurostat_energy_etl_pipeline_spark.viz import plot_country_trend

    assert plot_country_trend(spark, sf_dir, str(tmp_path), "NO_SUCH", "GEP") is None
    assert list(tmp_path.iterdir()) == []


# ------------------------------------------------- one-pass polyline raster
def _reference_line(img, x0, y0, x1, y1, color, thick=1):
    """The per-segment drawer `line_chart` used before its one-pass
    polyline: one np.linspace per segment."""
    n = int(max(abs(x1 - x0), abs(y1 - y0), 1)) * 2 + 1
    xs = np.rint(np.linspace(x0, x1, n)).astype(int)
    ys = np.rint(np.linspace(y0, y1, n)).astype(int)
    h, w = img.shape[:2]
    r = thick // 2
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            xi, yi = xs + dx, ys + dy
            ok = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
            img[yi[ok], xi[ok]] = color


def _reference_polyline(img, xs, ys, color, thick=1):
    for i in range(len(xs) - 1):
        _reference_line(img, xs[i], ys[i], xs[i + 1], ys[i + 1], color, thick)


def _series_cases():
    rng = np.random.default_rng(20)
    for _ in range(6):  # random series
        n = int(rng.integers(2, 60))
        yield rng.uniform(1990, 2030, n), rng.normal(0, 1e3, n)
    # the dashboard's shape: several distinct values per year
    years = np.repeat(np.arange(1992, 1999), 40)
    yield years, rng.uniform(1e3, 5e5, years.size)
    yield [2000, 2000, 2000, 2001], [1.0, 5.0, -3.0, 2.0]  # duplicate x: vertical
    yield [2000, 2001, 2002, 2003], [7.0, 7.0, 7.0, 7.0]  # horizontal
    yield [2000, 2001, 2002], [1.0, 1e-9, 1e9]  # near-flat then steep
    yield [2005], [3.0]  # single point: markers only
    yield [2000.5, 2000.5], [2.0, 2.0]  # one degenerate segment


_CASES = list(_series_cases())


@pytest.mark.parametrize("case", range(len(_CASES)))
def test_line_chart_pixels_match_per_segment_drawer(monkeypatch, case):
    from eurostat_energy_etl_pipeline_spark.viz import charts

    xs, ys = _CASES[case]
    got = line_chart(xs, ys, title="T")
    monkeypatch.setattr(charts, "_polyline", _reference_polyline)
    want = line_chart(xs, ys, title="T")
    assert (decode_png(encode_png(got)) == decode_png(encode_png(want))).all()


def test_polyline_matches_per_segment_drawer_at_edges_and_ties():
    from eurostat_energy_etl_pipeline_spark.viz.charts import _polyline

    rng = np.random.default_rng(3)
    cases = [
        (np.array([-5.0, 10.0, 55.0]), np.array([3.0, -4.0, 50.0])),
        (np.array([0.0, 47.0, 47.0, 0.0]), np.array([0.0, 0.0, 47.0, 47.0])),
        (rng.uniform(-10, 60, 40), rng.uniform(-10, 60, 40)),
    ]
    # endpoints on and near half-pixel ties, where one ulp flips np.rint
    for seed in range(24):
        ties = np.random.default_rng(seed)
        m = int(ties.integers(2, 8))
        frac = [0.5, 0.1, 0.3, 0.7, 0.25, 0.75]
        cases.append(tuple(
            ties.integers(0, 40, m) + ties.choice(frac, m) for _ in range(2)
        ))
    for thick in (1, 2, 3):
        for xs, ys in cases:
            got = np.zeros((48, 48, 3), np.uint8)
            want = got.copy()
            _polyline(got, xs, ys, SERIES, thick=thick)
            _reference_polyline(want, xs, ys, SERIES, thick=thick)
            assert (decode_png(encode_png(got)) == decode_png(encode_png(want))).all()
