"""Synthetic decoder fixtures for codepaths the reference requires but
ships no fixture for (SURVEY.md §5.3 / FIXTURES.md §4): PackBits, tiled
layouts with padded edge tiles, PlanarConfiguration=2, big-endian u16/f32,
u64 extremes, predictor-2 on u16, multi-IFD. Round-trip through the
test-only writer, decode with the engine kernel both per file and segment
by segment, and check that malformed layouts fail the same way in both."""

from __future__ import annotations

import json
import struct

import numpy as np
import pandas as pd
import pytest

from geotiff_spark.functions.geotiff import read_geotiff
from geotiff_spark.functions.tiff import (
    TiffDecodeError,
    assemble_segments,
    decode_planned_segment,
    lzw_decode,
    packbits_decode,
    parse_ifds,
    segment_plan,
)

from tiff_writer import write_tiff

RNG = np.random.default_rng(42)


def decode_by_segments(data):
    """Decode like read_rasters_parallel does: plan, ship each segment's
    bytes and JSON plan entry, decode it alone, send the decoded bytes
    back, place."""
    _bo, ifds = parse_ifds(data)
    meta, segs = segment_plan(ifds[0])
    native = np.dtype(meta["dtype_np"]).newbyteorder("=")
    pieces = []
    for seg in segs:
        seg_bytes = data[seg["offset"] : seg["offset"] + seg["nbytes"]]
        seg = json.loads(json.dumps(seg))
        decoded = decode_planned_segment(seg_bytes, seg).tobytes()
        pieces.append((seg, np.frombuffer(decoded, dtype=native).reshape(
            seg["rows"], seg["cols"], seg["spp"])))
    return assemble_segments(meta, pieces)


def roundtrip(arr, **kw):
    data = write_tiff(arr, **kw)
    rec = read_geotiff(data)
    got = rec["array"]
    want = arr if arr.ndim == 3 else arr[:, :, None]
    np.testing.assert_array_equal(got, want)
    parallel = decode_by_segments(data)
    assert parallel.dtype == got.dtype
    np.testing.assert_array_equal(parallel, got)
    return rec


@pytest.mark.parametrize("bo", ["<", ">"])
@pytest.mark.parametrize("compression", [1, 8, 32946, 32773])
def test_u8_strips(bo, compression):
    arr = RNG.integers(0, 256, size=(13, 17), dtype=np.uint8)
    roundtrip(arr, byte_order=bo, compression=compression, rows_per_strip=4)


@pytest.mark.parametrize("bo", ["<", ">"])
@pytest.mark.parametrize(
    "dtype", [np.uint16, np.uint32, np.uint64, np.int8, np.int16, np.int32,
              np.int64, np.float32, np.float64]
)
def test_all_dtypes_both_orders(bo, dtype):
    dt = np.dtype(dtype)
    if dt.kind == "f":
        arr = RNG.normal(size=(7, 9)).astype(dt)
    else:
        info = np.iinfo(dt)
        arr = RNG.integers(info.min, info.max, size=(7, 9), dtype=dt,
                           endpoint=True)
    roundtrip(arr, byte_order=bo, rows_per_strip=3)


def test_u64_extremes():
    arr = np.array(
        [[0, 2**63], [2**64 - 1, 12345678901234567890]], dtype=np.uint64
    )
    rec = roundtrip(arr, rows_per_strip=1)
    assert rec["dtype"] == "u64"
    assert rec["array"][1, 0] == 2**64 - 1  # survives (no i64 round-trip)


@pytest.mark.parametrize("bo", ["<", ">"])
def test_tiled_with_padded_edges(bo):
    arr = RNG.integers(0, 256, size=(10, 13, 3), dtype=np.uint8)
    roundtrip(arr, byte_order=bo, tile=(8, 4), compression=8)


def test_tiled_planar():
    arr = RNG.integers(0, 65535, size=(9, 11, 2), dtype=np.uint16)
    roundtrip(arr, tile=(4, 4), planar=2)


def test_planar_strips():
    arr = RNG.integers(0, 256, size=(12, 5, 3), dtype=np.uint8)
    roundtrip(arr, planar=2, rows_per_strip=5, compression=32773)


@pytest.mark.parametrize("bo", ["<", ">"])
def test_predictor2_u16_multiband(bo):
    arr = RNG.integers(0, 65535, size=(6, 8, 3), dtype=np.uint16,
                       endpoint=True)
    roundtrip(arr, byte_order=bo, predictor=2, compression=8,
              rows_per_strip=2)


def test_white_is_zero_inversion():
    arr = np.array([[0, 255], [10, 245]], dtype=np.uint8)
    data = write_tiff(arr, photometric=0)
    want = np.array([[255, 0], [245, 10]], dtype=np.uint8)
    np.testing.assert_array_equal(read_geotiff(data)["array"][:, :, 0], want)
    np.testing.assert_array_equal(decode_by_segments(data)[:, :, 0], want)


def _edit_entry(data, tag, new_tag=None, drop=0, value=None):
    """Corrupt one IFD entry of a write_tiff file: renumber it to
    ``new_tag``, drop its last ``drop`` values, or overwrite its first
    inline SHORT with ``value``."""
    out = bytearray(data)
    bo = "<" if out[:2] == b"II" else ">"
    (ifd,) = struct.unpack_from(bo + "I", out, 4)
    (n,) = struct.unpack_from(bo + "H", out, ifd)
    for pos in range(ifd + 2, ifd + 2 + 12 * n, 12):
        t, ftype, count = struct.unpack_from(bo + "HHI", out, pos)
        if t == tag:
            struct.pack_into(bo + "HHI", out, pos, new_tag or t, ftype,
                             count - drop)
            if value is not None:
                struct.pack_into(bo + "H", out, pos + 8, value)
            return bytes(out)
    raise KeyError(tag)


STRIPS = dict(rows_per_strip=4)            # 13 rows -> 4 strips
TILES = dict(tile=(8, 4), compression=8)   # 13 x 17 -> 3 x 4 tiles
PLANAR = dict(planar=2, rows_per_strip=5)  # 3 planes x 3 strips


@pytest.mark.parametrize("layout, edits", [
    pytest.param(STRIPS, {273: dict(drop=1)}, id="short-StripOffsets"),
    pytest.param(STRIPS, {279: dict(drop=1)}, id="short-StripByteCounts"),
    pytest.param(TILES, {324: dict(drop=1)}, id="short-TileOffsets"),
    pytest.param(TILES, {325: dict(drop=1)}, id="short-TileByteCounts"),
    pytest.param(STRIPS, {273: dict(new_tag=65000)}, id="missing-StripOffsets"),
    # one strip set for three planes, as if the file were chunky
    pytest.param(PLANAR, {273: dict(drop=6), 279: dict(drop=6)},
                 id="planar-strip-count-mismatch"),
    pytest.param(TILES, {322: dict(new_tag=65000)}, id="missing-TileWidth"),
    pytest.param(STRIPS, {284: dict(value=3)}, id="PlanarConfiguration-3"),
])
def test_malformed_layout_rejected(layout, edits):
    """Offsets/byte counts that do not fit the layout, or no layout at all,
    are a TiffDecodeError with the same message from both readers — not
    uninitialised rows or an IndexError."""
    arr = RNG.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    data = write_tiff(arr, **layout)
    for tag, edit in edits.items():
        data = _edit_entry(data, tag, **edit)
    with pytest.raises(TiffDecodeError) as per_file:
        read_geotiff(data)
    with pytest.raises(TiffDecodeError) as by_segments:
        decode_by_segments(data)
    assert str(per_file.value) == str(by_segments.value)


def test_readers_give_the_same_rows():
    """read_rasters and read_rasters_parallel stages, run on pandas frames
    without Spark, give identical RASTER_SCHEMA rows: decoded, header
    error and segment decode error alike."""
    from geotiff_spark.sources.rasters import (
        _assemble_raster,
        _decode_batches,
        _decode_segments,
        _explode_segments,
    )

    u16 = RNG.integers(0, 65535, size=(9, 11, 2), dtype=np.uint16)
    good = write_tiff(u16, byte_order=">", tile=(4, 4), planar=2,
                      pixel_scale=[2.0, 2.0, 0.0],
                      tie_points=[0.0, 0.0, 0.0, 10.0, 20.0, 0.0])
    bad_strip = bytearray(write_tiff(np.zeros((4, 4), np.uint8),
                                     compression=8))
    bad_strip[8:12] = b"\x00" * 4  # corrupt the deflate stream
    scan = pd.DataFrame({
        "path": ["d/good.tif", "d/short.tif", "d/bad_strip.tif", "d/junk.tif"],
        "content": [good, _edit_entry(good, 324, drop=1), bytes(bad_strip),
                    b"II*\x00garbage"],
    })
    per_file = pd.concat(_decode_batches(iter([scan])))
    decoded = pd.concat(_decode_segments(_explode_segments(iter([scan]))))
    parallel = pd.concat(
        _assemble_raster((rid,), group)
        for rid, group in decoded.groupby("raster_id")
    )
    def rows(frame):  # NaN (from concatenating None ints) back to None
        frame = frame.set_index("raster_id").sort_index().astype(object)
        return frame.where(frame.notna(), None).to_dict("index")

    a, b = rows(per_file), rows(parallel)
    assert list(per_file.columns) == list(parallel.columns)
    assert a == b
    assert a["good.tif"]["error"] is None
    assert a["good.tif"]["data"] == u16.astype("=u2").tobytes()
    assert a["good.tif"]["extent"] == {
        "minx": 10.0, "miny": 2.0, "maxx": 32.0, "maxy": 20.0}
    assert all(a[rid]["error"] for rid in ("short.tif", "bad_strip.tif",
                                          "junk.tif"))


def test_geokeys_roundtrip():
    arr = np.zeros((2, 2), dtype=np.uint8)
    directory = [1, 1, 0, 3,
                 1024, 0, 1, 1,
                 1025, 0, 1, 2,
                 3073, 34737, 5, 0]
    rec = read_geotiff(
        write_tiff(arr, geo_directory=directory, geo_ascii="test|")
    )
    gk = rec["geo_keys"]
    assert gk["model_type"] == 1
    assert gk["raster_type"] == "point"
    assert gk["proj_citation"] == "test"
    assert rec["raster_type"] == "point"


def test_tiepoint_scale_transform_roundtrip():
    arr = np.arange(20, dtype=np.uint8).reshape(4, 5)
    rec = read_geotiff(
        write_tiff(
            arr,
            pixel_scale=[25.0, 25.0, 0.0],
            tie_points=[0.0, 0.0, 0.0, 1000.0, 2000.0, 0.0],
        )
    )
    assert rec["transform"][0] == "tiepoint_scale"
    assert rec["extent"] == (1000.0, 2000.0 - 4 * 25.0, 1000.0 + 5 * 25.0, 2000.0)


def test_lzw_decode_simple():
    """LZW kernel vs known stream: encode 'TOBEORNOTTOBEORTOBEORNOT' shape
    data via round-trip through our decoder on marbles is covered; here a
    hand-rolled tiny stream: Clear, 'A', 'B', EOI."""
    # 9-bit codes: 256, 65, 66, 257 packed MSB-first
    bits = "100000000" + "001000001" + "001000010" + "100000001"
    bits += "0" * (8 - len(bits) % 8)
    data = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    assert lzw_decode(data) == b"AB"


def test_packbits_decode_cases():
    assert packbits_decode(b"\x00A") == b"A"          # literal run of 1
    assert packbits_decode(b"\xffA") == b"AA"         # repeat 2
    assert packbits_decode(b"\xfeB") == b"BBB"        # repeat 3
    assert packbits_decode(b"\x02XYZ") == b"XYZ"      # literal run of 3
    assert packbits_decode(b"\x80\x00A") == b"A"      # 128 is a noop
    # TIFF 6.0 spec example
    src = bytes.fromhex("FE AA 02 80 00 2A FD AA 03 80 00 2A 22 F7 AA".replace(" ", ""))
    want = bytes.fromhex(
        "AA AA AA 80 00 2A AA AA AA AA 80 00 2A 22 AA AA AA AA AA AA AA AA AA AA".replace(" ", "")
    )
    assert packbits_decode(src) == want
