"""Single-thread kernel timings on one generated batch, from outside.

Each kernel runs on the driver, in this process, on inputs made from the
run's seed, repeated until it has run for at least `MIN_S`; the median
call is reported.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import datagen

MIN_S = 0.3
BATCH = 8192


def _median_call(fn, min_s: float = MIN_S) -> float:
    times = []
    start = time.perf_counter()
    while True:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
        if time.perf_counter() - start >= min_s and len(times) >= 3:
            return statistics.median(times)


def measure(seed: int) -> dict[str, float]:
    from geotiff_spark.functions import cells, geotiff, pip
    from geotiff_spark.operators.extract import extract_batch
    from geotiff_spark.sources.pages import synth_pages_pdf
    from geotiff_spark.sources.polygons import polygon_cell_index_pdf, synth_polygons

    out: dict[str, float] = {}
    pdf = synth_pages_pdf(datagen._page_ids(seed, BATCH))
    html = pdf["html"]
    out["functions.extract.us_per_page"] = _median_call(lambda: extract_batch(html)) / BATCH * 1e6

    _texts, lat, lon = extract_batch(html)
    ok = ~np.isnan(lat)
    lat, lon = lat[ok], lon[ok]
    out["functions.cells.ns_per_point"] = _median_call(
        lambda: cells.latlon_to_cell(lat, lon, datagen.CELL_RES)) / len(lat) * 1e9

    # exact test on the boundary-cell candidates, as the join runs it
    cell = cells.latlon_to_cell(lat, lon, datagen.CELL_RES)
    index = polygon_cell_index_pdf(datagen.CELL_RES)
    boundary = index[index["is_boundary"]]
    polys = {p["poly_id"]: p for p in synth_polygons()}
    groups = []
    for pid, cells_of in boundary.groupby("poly_id")["cell"]:
        m = np.isin(cell, cells_of.to_numpy())
        if m.any():
            groups.append((lon[m], lat[m], polys[pid]["ring"], polys[pid]["holes"]))
    n_cand = sum(len(g[0]) for g in groups)
    if n_cand:
        out["functions.pip.ns_per_point"] = _median_call(
            lambda: [pip.points_in_polygon(x, y, r, h) for x, y, r, h in groups]
        ) / n_cand * 1e9

    # decode throughput per codec, one generated raster each
    rng = np.random.default_rng([seed, 5])
    side = 256
    arr = datagen._field(rng, side, "<u2", 1)
    for codec in datagen.CODECS:
        blob = datagen._write_raster(arr, codec, "strip", 1, (0.0, 0.0))
        secs = _median_call(lambda: geotiff.read_geotiff(blob))
        out[f"functions.tiff.decode_mb_per_s.{codec}"] = arr.nbytes / secs / 1e6

    rec = geotiff.read_geotiff(datagen._write_raster(arr, "none", "strip", 1, (0.0, 0.0)))
    n = 100_000
    xs = rng.uniform(0, side, n)
    ys = -rng.uniform(0, side, n)
    out["functions.geotiff.ns_per_sample"] = _median_call(
        lambda: geotiff.get_values_at(rec, xs, ys)) / n * 1e9
    return out

