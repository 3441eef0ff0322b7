"""Seeded input generators and their expected results.

Every input is a pure function of (kind, seed, scale): the same seed
gives byte-identical files. The engine only ever sees the generated
files; the expected results are computed here from the generator's own
arrays with code that shares nothing with the timed path (no cell
index, no engine decoder, no Spark). Generated sets are cached under
`<checkout>/.bench_cache/data/<kind>-s<seed>-<scale>-<hash>/`, keyed by
(kind, seed, scale, a hash of the generator's source files), and
reused by later runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import struct
import time
import zlib
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lzw import lzw_encode

# Sizes per scale. "full" is what the benchmark measures; "tiny" is the
# smoke test's.
SIZES = {
    "full": {
        "pages": 120_000, "pipeline_pages": 12_000, "page_files": 8,
        "rasters": 8, "raster_side": 256, "points": 10_000,
        "docs": 1_000, "pages_per_doc": 8,
    },
    "tiny": {
        "pages": 20_000, "pipeline_pages": 12_000, "page_files": 4,
        "rasters": 8, "raster_side": 96, "points": 4_000,
        "docs": 500, "pages_per_doc": 8,
    },
}

CELL_RES = 7          # cell resolution of the spatial join
TILE = 128            # raster tile edge in pixels
BLOOM_HIST_MOD = 5    # bloom_incremental_frame's history/new split
PLANT_EVERY = 50      # every 50th doc is a verbatim copy of an earlier one
SEED_STRIDE = 1 << 32  # seed s draws page ids from [s·2^32, s·2^32 + n)

# raster corpus: one entry per file, cycled:
# (codec, layout, PlanarConfiguration, dtype, samples per pixel)
RASTER_SPECS = [
    ("none", "strip", 1, "<u2", 1),
    ("deflate", "tile", 1, "<f4", 1),
    ("packbits", "strip", 2, "<u2", 2),
    ("lzw", "tile", 1, "<u2", 1),
    ("lzw", "strip", 2, "<f4", 2),
    ("deflate", "strip", 1, "<u2", 2),
    ("packbits", "tile", 1, "<f4", 1),
    ("lzw", "tile", 2, "<u2", 2),
]
CODECS = {"none": 1, "deflate": 8, "packbits": 32773, "lzw": 5}  # TIFF Compression

_GEOTAG = re.compile(r" geo: (-?\d+\.\d+),(-?\d+\.\d+)$")


# Files whose code decides the generated bytes or the expected results.
GENERATOR_SOURCES = [
    "perfbench/datagen.py", "perfbench/lzw.py", "tests/tiff_writer.py",
    "geotiff_spark/sources/pages.py", "geotiff_spark/sources/polygons.py",
]


def generator_hash(root: Path) -> str:
    h = hashlib.sha1()
    for rel in GENERATOR_SOURCES:
        h.update(rel.encode() + b"\0" + (root / rel).read_bytes())
    return h.hexdigest()[:12]


def ensure(root: Path, kind: str, seed: int, scale: str,
           fresh: bool = False) -> tuple[Path, dict]:
    """Generate (or reuse) one input set of the checkout at `root`;
    returns (directory, meta). meta["datagen_s"] is this call's
    generation time, or None when the set came from the cache; `fresh`
    regenerates even when it is cached."""
    key = f"{kind}-s{seed}-{scale}-{generator_hash(root)}"
    out = root / ".bench_cache" / "data" / key
    meta_path = out / "meta.json"
    if meta_path.exists() and not fresh:
        meta = json.loads(meta_path.read_text())
        meta["datagen_s"] = None
        return out, meta
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    gen = {"pages": gen_pages, "pipeline": gen_pages,
           "rasters": gen_rasters, "text": gen_text}[kind]
    size = dict(SIZES[scale])
    if kind == "pipeline":
        size["pages"] = size["pipeline_pages"]
    t0 = time.perf_counter()
    meta = gen(tmp, seed, size)
    datagen_s = time.perf_counter() - t0
    meta["key"] = key
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    meta = json.loads(meta_path.read_text())  # as a cached set reads it
    meta["datagen_s"] = datagen_s
    return out, meta


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

def _page_ids(seed: int, n: int) -> np.ndarray:
    return np.uint64(seed) * np.uint64(SEED_STRIDE) + np.arange(n, dtype=np.uint64)


def _crc_sum(keys) -> int:
    return int(sum(zlib.crc32(k.encode("utf-8")) for k in keys))


def _ray_cast(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Even-odd crossing test, points strictly left of the crossing."""
    r = np.asarray(ring, dtype=np.float64)
    if (r[0] == r[-1]).all():
        r = r[:-1]
    inside = np.zeros(px.shape, dtype=bool)
    for (xa, ya), (xb, yb) in zip(r, np.roll(r, -1, axis=0)):
        crosses = (ya > py) != (yb > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = xa + (py - ya) / (yb - ya) * (xb - xa)
        inside ^= crosses & (px < x_at)
    return inside


def expected_hits(urls: np.ndarray, lat: np.ndarray, lon: np.ndarray) -> dict:
    """Brute force over every polygon: (page, polygon) containment on
    the generator's rounded coordinates, no cell index."""
    from geotiff_spark.sources.polygons import synth_polygons

    per_poly: dict[str, int] = {}
    keys: list[str] = []
    for p in synth_polygons():
        ring = np.asarray(p["ring"], dtype=np.float64)
        box = ((lon >= ring[:, 0].min()) & (lon <= ring[:, 0].max())
               & (lat >= ring[:, 1].min()) & (lat <= ring[:, 1].max()))
        idx = np.nonzero(box)[0]
        inside = _ray_cast(lon[idx], lat[idx], ring)
        for hole in p["holes"]:
            inside &= ~_ray_cast(lon[idx], lat[idx], hole)
        hit = idx[inside]
        if len(hit):
            per_poly[p["poly_id"]] = int(len(hit))
            keys.extend(f"{u}|{p['poly_id']}" for u in urls[hit])
    return {"per_poly": per_poly, "rows": len(keys), "crc_sum": _crc_sum(keys)}


def gen_pages(out: Path, seed: int, size: dict) -> dict:
    from geotiff_spark.sources.pages import synth_pages_pdf

    n, files = size["pages"], size["page_files"]
    ids = _page_ids(seed, n)
    pdf = synth_pages_pdf(ids)
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    pages = out / "pages"
    pages.mkdir()
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-n // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step),
                       pages / f"part-{f:03d}.parquet")
    tags = pd.Series(pdf["text"]).str.extract(_GEOTAG)
    has = tags[0].notna().to_numpy()
    lat = tags[0][has].astype(float).to_numpy()
    lon = tags[1][has].astype(float).to_numpy()
    urls = pdf["url"].to_numpy()[has]
    return {"kind": "pages", "seed": seed, "pages": n,
            "geotagged": int(has.sum()), "hits": expected_hits(urls, lat, lon)}


# ---------------------------------------------------------------------------
# rasters
# ---------------------------------------------------------------------------

def _field(rng: np.random.Generator, side: int, dtype: str, spp: int) -> np.ndarray:
    # fixed frequencies, seeded phases: every seed compresses alike
    y, x = np.mgrid[0:side, 0:side].astype(np.float64)
    px, py = rng.uniform(0, 2 * np.pi, 2)
    base = 1000 + 400 * np.sin(x / 37 + px) + 300 * np.cos(y / 53 + py)
    bands = [base + b * 50 + rng.integers(0, 16, base.shape) for b in range(spp)]
    arr = np.stack(bands, axis=-1)
    if dtype == "<f4":
        return (arr / 7.0).astype("<f4")
    return arr.astype(dtype)


def _write_raster(arr: np.ndarray, codec: str, layout: str, planar: int,
                  origin: tuple[float, float]) -> bytes:
    """TIFF bytes via the test writer; LZW through this package's encoder."""
    import tests.tiff_writer as tw

    geo = {
        "pixel_scale": [1.0, 1.0, 0.0],
        "tie_points": [0.0, 0.0, 0.0, origin[0], origin[1], 0.0],
        "planar": planar,
        "rows_per_strip": 32 if layout == "strip" else None,
        "tile": (TILE // 2, TILE // 2) if layout == "tile" else None,
    }
    if codec != "lzw":
        return tw.write_tiff(arr, compression=CODECS[codec], **geo)
    # the writer has no LZW: let its PackBits branch run our encoder,
    # then relabel the (inline SHORT) Compression tag
    packbits = tw.packbits_encode
    tw.packbits_encode = lzw_encode
    try:
        out = bytearray(tw.write_tiff(arr, compression=CODECS["packbits"], **geo))
    finally:
        tw.packbits_encode = packbits
    (ifd,) = struct.unpack_from("<I", out, 4)
    (n,) = struct.unpack_from("<H", out, ifd)
    for e in range(ifd + 2, ifd + 2 + 12 * n, 12):
        if struct.unpack_from("<H", out, e)[0] == 259:
            struct.pack_into("<H", out, e + 8, CODECS["lzw"])
    return bytes(out)


def _tile_stats(rid: str, band0: np.ndarray) -> list[dict]:
    rows = []
    h, w = band0.shape
    for ty in range(-(-h // TILE)):
        for tx in range(-(-w // TILE)):
            blk = band0[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE]
            rows.append({"raster_id": rid, "tile_x": tx, "tile_y": ty,
                         "v_min": float(blk.min()),
                         "v_mean": float(blk.astype(np.float64).mean()),
                         "v_max": float(blk.max())})
    return rows


def _focal_stats(rid: str, band0: np.ndarray) -> list[dict]:
    """3×3 in-bounds focal sums of the int64-truncated band, per tile."""
    v = band0.astype(np.int64)
    h, w = v.shape
    pad = np.zeros((h + 2, w + 2), dtype=np.int64)
    one = np.zeros((h + 2, w + 2), dtype=np.int64)
    pad[1:-1, 1:-1] = v
    one[1:-1, 1:-1] = 1
    fsum = sum(pad[u:u + h, s:s + w] for u in range(3) for s in range(3))
    fcnt = sum(one[u:u + h, s:s + w] for u in range(3) for s in range(3))
    rows = []
    for ty in range(-(-h // TILE)):
        for tx in range(-(-w // TILE)):
            sl = (slice(ty * TILE, (ty + 1) * TILE), slice(tx * TILE, (tx + 1) * TILE))
            rows.append({"raster_id": rid, "tile_x": tx, "tile_y": ty,
                         "f_sum": int(fsum[sl].sum()), "f_cnt": int(fcnt[sl].sum()),
                         "f_min": int(fsum[sl].min()), "f_max": int(fsum[sl].max())})
    return rows


def gen_rasters(out: Path, seed: int, size: dict) -> dict:
    rng = np.random.default_rng([seed, 2])
    side, count = size["raster_side"], size["rasters"]
    rdir = out / "rasters"
    rdir.mkdir()
    bands0, tiles, focal, files = {}, [], [], []
    pixels = 0
    for i in range(count):
        codec, layout, planar, dtype, spp = RASTER_SPECS[i % len(RASTER_SPECS)]
        arr = _field(rng, side, dtype, spp)
        rid = f"r{i:02d}_{codec}_{layout}_{'planar' if planar == 2 else 'chunky'}.tif"
        origin = (10_000.0 * i, 5_000.0)
        (rdir / rid).write_bytes(_write_raster(arr, codec, layout, planar, origin))
        bands0[rid] = (arr[:, :, 0], origin)
        tiles += _tile_stats(rid, arr[:, :, 0])
        focal += _focal_stats(rid, arr[:, :, 0])
        files.append({"raster_id": rid, "codec": codec, "layout": layout,
                      "planar": planar, "dtype": dtype, "samples": spp})
        pixels += side * side * spp

    # sample points: pixel-interior model coordinates, routed per row
    n = size["points"]
    rids = sorted(bands0)
    pick = rng.integers(0, len(rids), n)
    px = rng.integers(0, side, n)
    py = rng.integers(0, side, n)
    fx, fy = rng.uniform(0.1, 0.9, (2, n))
    xs = np.empty(n)
    ys = np.empty(n)
    expect = np.empty(n)
    for k, rid in enumerate(rids):
        m = pick == k
        band0, (x0, y0) = bands0[rid]
        xs[m] = x0 + px[m] + fx[m]
        ys[m] = y0 - (py[m] + fy[m])
        expect[m] = band0[py[m], px[m]].astype(np.float64)
    zone = (px // 64 + py // 64) % 16
    pts = pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "raster_id": np.asarray(rids, dtype=object)[pick],
        "x": xs, "y": ys,
        "zone": [f"z{z:02d}" for z in zone],
    })
    (out / "points").mkdir()
    pq.write_table(pa.Table.from_pandas(pts, preserve_index=False),
                   out / "points" / "part-000.parquet")
    np.save(out / "expect.npy", expect)
    zonal = (pd.DataFrame({"zone": pts["zone"], "v": expect})
             .groupby("zone")["v"].agg(["count", "mean", "min", "max"]))
    return {
        "kind": "rasters", "seed": seed, "files": files, "pixels": pixels,
        "points": n, "tile_stats": tiles, "focal_stats": focal,
        "zonal": {z: [int(r["count"]), float(r["mean"]), float(r["min"]),
                      float(r["max"])] for z, r in zonal.iterrows()},
    }


# ---------------------------------------------------------------------------
# page text
# ---------------------------------------------------------------------------

def _chunks(text: str) -> list[str]:
    toks = [t for t in re.split(r"\s+", text) if t]
    return [" ".join(toks[i:i + 10]) for i in range(0, len(toks), 10)]


def gen_text(out: Path, seed: int, size: dict) -> dict:
    from geotiff_spark.sources.pages import synth_pages_pdf

    d, per = size["docs"], size["pages_per_doc"]
    # a different id range from the pages workloads of the same seed
    ids = _page_ids(seed, d * per) + np.uint64(SEED_STRIDE // 2)
    texts = synth_pages_pdf(ids)["text"].to_numpy().reshape(d, per)
    docs = [" ".join(row) for row in texts]
    rng = np.random.default_rng([seed, 3])
    planted = []
    for i in range(PLANT_EVERY, d, PLANT_EVERY):
        src = int(rng.integers(0, i))
        docs[i] = docs[src]
        planted.append([src, i])
    doc_id = np.arange(d, dtype=np.int64)
    (out / "docs").mkdir()
    pq.write_table(pa.Table.from_pandas(
        pd.DataFrame({"doc_id": doc_id, "text": docs}), preserve_index=False),
        out / "docs" / "part-000.parquet")

    # bloom: no false negatives, so a new doc's maybe-seen count is at
    # least its chunks that occur verbatim in the history docs
    history = set()
    for i in range(d):
        if i % BLOOM_HIST_MOD:
            history.update(_chunks(docs[i]))
    bloom = {}
    for i in range(0, d, BLOOM_HIST_MOD):
        ch = _chunks(docs[i])
        bloom[i] = [len(ch), sum(c in history for c in ch)]
    return {"kind": "text", "seed": seed, "docs": d, "pages": d * per,
            "chars": int(sum(len(t) for t in docs)),
            "planted_pairs": planted, "bloom": bloom}
