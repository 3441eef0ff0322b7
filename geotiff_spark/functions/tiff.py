"""Pure-numpy TIFF/GeoTIFF container decoder.

From-scratch reimplementation of the decode path the reference crate
(georust/geotiff) delegates to the ``tiff`` Rust crate, pinned by the
reference's golden fixtures (see SURVEY.md §2.B, §5.4):

- TIFF header + IFD walk, both byte orders       (/root/reference/src/lib.rs:50)
- strip and tile layouts, chunky + planar
- compression: none / LZW (TIFF variant, EarlyChange) / Deflate (8 and
  legacy 32946) / PackBits (32773)
- horizontal predictor (2)
- PhotometricInterpretation=0 (WhiteIsZero) grayscale inversion
- SampleFormat × BitsPerSample → the 10 raster dtypes
  (/root/reference/src/lib.rs:63-74)

The decoder is deliberately *whole-image eager* per raster, matching
``GeoTiff::read`` (/root/reference/src/lib.rs:49-84): at engine level a
raster row is the unit of parallelism and each one is decoded once inside a
``mapInPandas`` batch.

No Spark imports here — keep this importable on bare executors.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

# TIFF tag ids (TIFF 6.0 + OGC GeoTIFF 19-008r4)
TAG_IMAGE_WIDTH = 256
TAG_IMAGE_LENGTH = 257
TAG_BITS_PER_SAMPLE = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_STRIP_OFFSETS = 273
TAG_SAMPLES_PER_PIXEL = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_BYTE_COUNTS = 279
TAG_PLANAR_CONFIG = 284
TAG_PREDICTOR = 317
TAG_COLOR_MAP = 320
TAG_TILE_WIDTH = 322
TAG_TILE_LENGTH = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_BYTE_COUNTS = 325
TAG_SAMPLE_FORMAT = 339
TAG_MODEL_PIXEL_SCALE = 33550
TAG_MODEL_TIEPOINT = 33922
TAG_MODEL_TRANSFORMATION = 34264
TAG_GEO_KEY_DIRECTORY = 34735
TAG_GEO_DOUBLE_PARAMS = 34736
TAG_GEO_ASCII_PARAMS = 34737

COMPRESSION_NONE = 1
COMPRESSION_LZW = 5
COMPRESSION_DEFLATE = 8
COMPRESSION_DEFLATE_LEGACY = 32946
COMPRESSION_PACKBITS = 32773

# field type -> (struct char, byte size). RATIONALs handled specially.
_FIELD_TYPES = {
    1: ("B", 1),   # BYTE
    2: ("c", 1),   # ASCII
    3: ("H", 2),   # SHORT
    4: ("I", 4),   # LONG
    5: (None, 8),  # RATIONAL (2x LONG)
    6: ("b", 1),   # SBYTE
    7: ("B", 1),   # UNDEFINED
    8: ("h", 2),   # SSHORT
    9: ("i", 4),   # SLONG
    10: (None, 8),  # SRATIONAL
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
}


class TiffDecodeError(ValueError):
    """Raised on malformed or unsupported TIFF content."""


@dataclass
class Ifd:
    """One parsed image file directory: tag id -> decoded value list."""

    byte_order: str  # '<' or '>'
    entries: dict[int, list] = field(default_factory=dict)

    def scalar(self, tag: int, default=None):
        v = self.entries.get(tag)
        if v is None:
            return default
        return v[0]

    def values(self, tag: int, default=None):
        return self.entries.get(tag, default)


def parse_ifds(data: bytes) -> tuple[str, list[Ifd]]:
    """Parse header + all IFDs. Returns (byte_order, ifds)."""
    if len(data) < 8:
        raise TiffDecodeError("file too short for TIFF header")
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise TiffDecodeError(f"bad byte-order mark {data[:2]!r}")
    magic = struct.unpack(bo + "H", data[2:4])[0]
    if magic != 42:
        raise TiffDecodeError(f"bad TIFF magic {magic}")
    (ifd_offset,) = struct.unpack(bo + "I", data[4:8])

    ifds: list[Ifd] = []
    seen = set()
    while ifd_offset != 0:
        if ifd_offset in seen:
            raise TiffDecodeError("IFD offset cycle")
        seen.add(ifd_offset)
        ifd, ifd_offset = _parse_one_ifd(data, bo, ifd_offset)
        ifds.append(ifd)
    if not ifds:
        raise TiffDecodeError("no IFD present")
    return bo, ifds


def _parse_one_ifd(data: bytes, bo: str, offset: int) -> tuple[Ifd, int]:
    (n_entries,) = struct.unpack_from(bo + "H", data, offset)
    ifd = Ifd(byte_order=bo)
    pos = offset + 2
    for _ in range(n_entries):
        tag, ftype, count = struct.unpack_from(bo + "HHI", data, pos)
        value_field = data[pos + 8 : pos + 12]
        pos += 12
        if ftype not in _FIELD_TYPES:
            continue  # skip unknown field types, like libtiff
        ch, size = _FIELD_TYPES[ftype]
        nbytes = size * count
        if nbytes <= 4:
            raw = value_field[:nbytes]
        else:
            (val_offset,) = struct.unpack(bo + "I", value_field)
            raw = data[val_offset : val_offset + nbytes]
            if len(raw) != nbytes:
                raise TiffDecodeError(f"tag {tag}: value runs past EOF")
        if ftype == 2:  # ASCII: NUL-terminated concatenated strings
            ifd.entries[tag] = [raw.rstrip(b"\x00").decode("ascii", "replace")]
        elif ftype in (5, 10):  # (S)RATIONAL pairs -> float
            sub = "I" if ftype == 5 else "i"
            parts = struct.unpack(bo + sub * (2 * count), raw)
            ifd.entries[tag] = [
                (parts[2 * i] / parts[2 * i + 1]) if parts[2 * i + 1] else float("nan")
                for i in range(count)
            ]
        else:
            ifd.entries[tag] = list(struct.unpack(bo + ch * count, raw))
    (next_offset,) = struct.unpack_from(bo + "I", data, pos)
    return ifd, next_offset


# ---------------------------------------------------------------------------
# Decompressors
# ---------------------------------------------------------------------------

_LZW_BASE = [bytes([i]) for i in range(256)] + [b"", b""]


def _lzw_extract_codes_numpy(src: bytes, start_bit: int) -> tuple[np.ndarray, int]:
    """Extract one clear-to-clear segment's codes vectorized.

    Within a segment (after a Clear) the EarlyChange width schedule is
    closed-form: the table holds 258 + max(j−1, 0) entries after the j-th
    data code, and the width bumps when the table size reaches 2^w − 1.
    Returns (codes ending at Clear/EOI/end-of-data, next start_bit).
    """
    b = np.frombuffer(src, dtype=np.uint8)
    total_bits = len(b) * 8
    codes_out = []
    pos = start_bit
    # j = number of data codes consumed so far in this segment
    j = 0
    width = 9
    # width-w block ends when 258 + (j_end - 1) == (1 << w) - 1
    while pos + width <= total_bits:
        j_end = (1 << width) - 1 - 258 + 1  # first j at the next width
        n_here = max(j_end - j, 1) if width < 12 else ((total_bits - pos) // width)
        n_fit = (total_bits - pos) // width
        n = min(n_here, n_fit)
        if n <= 0:
            break
        offs = pos + width * np.arange(n, dtype=np.int64)
        byte0 = offs >> 3
        # gather 3 bytes covering any ≤12-bit window
        b0 = b[byte0].astype(np.uint32)
        b1 = b[np.minimum(byte0 + 1, len(b) - 1)].astype(np.uint32)
        b2 = b[np.minimum(byte0 + 2, len(b) - 1)].astype(np.uint32)
        window = (b0 << 16) | (b1 << 8) | b2
        shift = (24 - width - (offs & 7)).astype(np.uint32)
        vals = (window >> shift) & ((1 << width) - 1)
        # stop at the first control code (Clear=256 or EOI=257); larger
        # values are ordinary table codes
        ctrl = np.nonzero((vals == 256) | (vals == 257))[0]
        if len(ctrl):
            first = int(ctrl[0])
            codes_out.append(vals[: first + 1])
            pos += width * (first + 1)
            return np.concatenate(codes_out).astype(np.int64), pos
        codes_out.append(vals)
        pos += width * n
        j += n
        if width < 12 and j >= (1 << width) - 1 - 258 + 1:
            width += 1
    if codes_out:
        return np.concatenate(codes_out).astype(np.int64), pos
    return np.empty(0, dtype=np.int64), pos


def lzw_decode(src: bytes) -> bytes:
    """TIFF-variant LZW: MSB-first codes, 9→12-bit growth with EarlyChange
    (width bump when the next assignable code reaches 2^w − 1),
    Clear=256 / EOI=257. Verified bit-exact vs marbles.tif goldens.

    Fast path: vectorized code extraction per clear-to-clear segment
    (numpy) + a tight scalar table-expansion loop. Falls back to the
    scalar reference loop for streams that don't start with Clear.
    """
    if len(src) == 0:
        return b""
    # fast path requires the stream to start with a Clear code (the TIFF
    # encoder always emits one); otherwise use the scalar loop
    first_code = (src[0] << 1 | (src[1] >> 7 if len(src) > 1 else 0)) & 0x1FF
    if first_code != 256:
        return _lzw_decode_scalar(src)

    out_parts: list[bytes] = []
    pos = 9  # past the leading Clear
    n = len(src) * 8
    while pos + 9 <= n:
        codes, pos = _lzw_extract_codes_numpy(src, pos)
        if len(codes) == 0:
            break
        clist = codes.tolist()
        table = list(_LZW_BASE)
        tlen = 258
        prev = None
        stop = False
        for code in clist:
            if code == 257:  # EOI
                stop = True
                break
            if code == 256:  # Clear: next segment re-extracts
                break
            if prev is None:
                entry = table[code]
            elif code < tlen:
                entry = table[code]
                table.append(prev + entry[:1])
                tlen += 1
            elif code == tlen:
                entry = prev + prev[:1]
                table.append(entry)
                tlen += 1
            else:
                raise TiffDecodeError(f"LZW code {code} out of range")
            out_parts.append(entry)
            prev = entry
        if stop:
            break
        if clist and clist[-1] == 257:
            break
    return b"".join(out_parts)


def _lzw_decode_scalar(src: bytes) -> bytes:
    """Reference scalar loop (fallback; also the spec oracle in tests)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    base = [bytes([i]) for i in range(256)] + [b"", b""]

    bitbuf = 0
    bitcnt = 0
    pos = 0
    n = len(src)
    width = 9
    prev: bytes | None = None
    table = list(base)

    while True:
        while bitcnt < width:
            if pos >= n:
                return bytes(out)
            bitbuf = (bitbuf << 8) | src[pos]
            pos += 1
            bitcnt += 8
        code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
        bitcnt -= width

        if code == EOI:
            return bytes(out)
        if code == CLEAR:
            table = list(base)
            width = 9
            prev = None
            continue
        if prev is None:
            entry = table[code]
            out += entry
        else:
            if code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise TiffDecodeError(f"LZW code {code} out of range")
            out += entry
        prev = entry
        # EarlyChange: bump width when next code to assign == 2^width - 1
        if len(table) >= (1 << width) - 1 and width < 12:
            width += 1


def packbits_decode(src: bytes) -> bytes:
    """PackBits RLE (compression 32773)."""
    out = bytearray()
    i = 0
    n = len(src)
    while i < n:
        h = src[i]
        i += 1
        if h < 128:  # literal run of h+1 bytes
            out += src[i : i + h + 1]
            i += h + 1
        elif h > 128:  # repeat next byte 257-h times
            out += src[i : i + 1] * (257 - h)
            i += 1
        # h == 128: noop
    return bytes(out)


def _decompress(raw: bytes, compression: int) -> bytes:
    if compression == COMPRESSION_NONE:
        return raw
    if compression == COMPRESSION_LZW:
        return lzw_decode(raw)
    if compression in (COMPRESSION_DEFLATE, COMPRESSION_DEFLATE_LEGACY):
        return zlib.decompress(raw)
    if compression == COMPRESSION_PACKBITS:
        return packbits_decode(raw)
    raise TiffDecodeError(f"unsupported compression {compression}")


# ---------------------------------------------------------------------------
# Sample dtype resolution (B9): SampleFormat × BitsPerSample → numpy dtype
# Mirrors the 10-variant mapping at /root/reference/src/lib.rs:63-74.
# ---------------------------------------------------------------------------

_DTYPE_TABLE = {
    (1, 8): "u1", (1, 16): "u2", (1, 32): "u4", (1, 64): "u8",
    (2, 8): "i1", (2, 16): "i2", (2, 32): "i4", (2, 64): "i8",
    (3, 32): "f4", (3, 64): "f8",
}

DTYPE_NAMES = {
    "u1": "u8", "u2": "u16", "u4": "u32", "u8": "u64",
    "i1": "i8", "i2": "i16", "i4": "i32", "i8": "i64",
    "f4": "f32", "f8": "f64",
}
NUMPY_BY_NAME = {v: np.dtype(k) for k, v in DTYPE_NAMES.items()}


def _resolve_dtype(ifd: Ifd) -> tuple[np.dtype, str]:
    bits_list = ifd.values(TAG_BITS_PER_SAMPLE, [1])
    bits = bits_list[0]
    if any(b != bits for b in bits_list):
        raise TiffDecodeError(f"heterogeneous BitsPerSample {bits_list}")
    if bits == 1:
        bits = 8  # treat as u8 after bit expansion (not exercised by fixtures)
    fmt_list = ifd.values(TAG_SAMPLE_FORMAT, [1])
    fmt = fmt_list[0]
    if fmt == 4:  # undefined → treat as uint per TIFF spec
        fmt = 1
    key = (fmt, bits)
    if key not in _DTYPE_TABLE:
        raise TiffDecodeError(f"unsupported SampleFormat={fmt} BitsPerSample={bits}")
    base = _DTYPE_TABLE[key]
    return np.dtype(ifd.byte_order + base), DTYPE_NAMES[base]


# ---------------------------------------------------------------------------
# Image decode: one strip/tile layout (segment_plan) and one placement
# (assemble_segments), shared by the per-file and segment-parallel readers
# ---------------------------------------------------------------------------

def segment_plan(ifd: Ifd) -> tuple[dict, list[dict]]:
    """Split one image into independently decodable segments.

    Returns (meta, segments). ``meta`` holds width, height, num_samples,
    dtype (name like 'u8'), dtype_np and photometric. Each segment holds
    its byte range (offset, nbytes), its decoded shape (rows, cols, spp),
    its placement (y0, x0, band: None when chunky, the plane when planar)
    and what decode_planned_segment needs (compression, predictor,
    dtype_np). Strips span the width and the last one is short; tiles are
    always TileLength × TileWidth, padded past the image edge; planar
    images list each band's segments in turn. Segments decode in any order
    on any executor and are placed by assemble_segments — the per-file
    decoder and the within-file parallelism for large rasters (SURVEY.md
    B2) both run this plan.
    """
    width = ifd.scalar(TAG_IMAGE_WIDTH)
    height = ifd.scalar(TAG_IMAGE_LENGTH)
    if width is None or height is None:
        raise TiffDecodeError("missing ImageWidth/ImageLength")
    spp = ifd.scalar(TAG_SAMPLES_PER_PIXEL, 1)
    planar = ifd.scalar(TAG_PLANAR_CONFIG, 1)
    if planar not in (1, 2):
        raise TiffDecodeError(f"unsupported PlanarConfiguration {planar}")
    dtype, dtype_name = _resolve_dtype(ifd)
    meta = {
        "width": width, "height": height, "num_samples": spp,
        "dtype": dtype_name, "dtype_np": dtype.str,
        "photometric": ifd.scalar(TAG_PHOTOMETRIC, 1),
    }
    codec = {
        "compression": ifd.scalar(TAG_COMPRESSION, COMPRESSION_NONE),
        "predictor": ifd.scalar(TAG_PREDICTOR, 1),
        "dtype_np": meta["dtype_np"],
    }
    tiled = ifd.values(TAG_TILE_OFFSETS) is not None
    if tiled:
        kind, offsets_tag, counts_tag = "Tile", TAG_TILE_OFFSETS, TAG_TILE_BYTE_COUNTS
        rows, cols = ifd.scalar(TAG_TILE_LENGTH), ifd.scalar(TAG_TILE_WIDTH)
    else:
        kind, offsets_tag, counts_tag = "Strip", TAG_STRIP_OFFSETS, TAG_STRIP_BYTE_COUNTS
        rows, cols = ifd.scalar(TAG_ROWS_PER_STRIP, height), width
    if not rows or not cols:
        raise TiffDecodeError(f"missing or zero {kind} size: {rows} x {cols}")
    offsets = ifd.values(offsets_tag, [])
    counts = ifd.values(counts_tag, [])
    bands = range(spp) if planar == 2 else [None]
    grid = [
        (band, y0, x0)
        for band in bands
        for y0 in range(0, height, rows)
        for x0 in range(0, width, cols)
    ]
    if len(offsets) != len(grid) or len(counts) != len(grid):
        raise TiffDecodeError(
            f"{kind}Offsets/{kind}ByteCounts hold {len(offsets)}/{len(counts)} "
            f"entries, the layout needs {len(grid)}"
        )
    return meta, [
        dict(
            codec, offset=offset, nbytes=nbytes,
            rows=rows if tiled else min(rows, height - y0), cols=cols,
            spp=spp if band is None else 1, y0=y0, x0=x0, band=band,
        )
        for (band, y0, x0), offset, nbytes in zip(grid, offsets, counts)
    ]


def decode_planned_segment(seg_bytes: bytes, seg: dict) -> np.ndarray:
    """Decode one planned segment's raw bytes into (rows, cols, spp),
    native byte order."""
    dtype = np.dtype(seg["dtype_np"])
    raw = _decompress(seg_bytes, seg["compression"])
    shape = (seg["rows"], seg["cols"], seg["spp"])
    expected = shape[0] * shape[1] * shape[2] * dtype.itemsize
    if len(raw) < expected:
        raise TiffDecodeError(
            f"segment decodes to {len(raw)} bytes, expected {expected}"
        )
    arr = np.frombuffer(raw[:expected], dtype=dtype).reshape(shape)
    # native byte order before any arithmetic
    arr = arr.astype(dtype.newbyteorder("="), copy=False)
    return _apply_predictor(arr, seg["predictor"])


def assemble_segments(meta: dict, pieces) -> np.ndarray:
    """Place decoded segments, an iterable of (segment, array) pairs, into
    the full (h, w, spp) chunky array and apply whole-image semantics
    (WhiteIsZero inversion). Each piece is placed as it arrives, so a
    generator of pieces never holds more than one decoded segment."""
    h, w = meta["height"], meta["width"]
    native = np.dtype(meta["dtype_np"]).newbyteorder("=")
    out = np.empty((h, w, meta["num_samples"]), dtype=native)
    for seg, arr in pieces:
        y0, x0, band = seg["y0"], seg["x0"], seg["band"]
        rows, cols = seg["rows"], seg["cols"]
        if y0 + rows > h or x0 + cols > w:  # edge tile: drop the padding
            arr = arr[: h - y0, : w - x0]
        if band is None:
            out[y0 : y0 + rows, x0 : x0 + cols] = arr
        else:
            out[y0 : y0 + rows, x0 : x0 + cols, band] = arr[:, :, 0]
    if meta["photometric"] == 0:
        out = _invert_white_is_zero(out)
    return out


def _apply_predictor(block: np.ndarray, predictor: int) -> np.ndarray:
    """Horizontal predictor (2): per-row per-sample cumulative sum with
    dtype wraparound. block shape: (rows, cols, spp), native byte order."""
    if predictor in (0, 1):
        return block
    if predictor != 2:
        raise TiffDecodeError(f"unsupported predictor {predictor}")
    if block.dtype.kind == "f":
        raise TiffDecodeError("predictor 2 on float samples unsupported")
    return np.cumsum(block, axis=1, dtype=block.dtype)


def _invert_white_is_zero(arr: np.ndarray) -> np.ndarray:
    """PhotometricInterpretation=0: invert grayscale (v' = dtype_max − v),
    matching the tiff crate's behavior pinned by the austrian fixtures
    (/root/reference/tests/transform.rs:180-252)."""
    if arr.dtype.kind == "u":
        return (np.iinfo(arr.dtype).max - arr).astype(arr.dtype)
    if arr.dtype.kind == "i":
        return (np.iinfo(arr.dtype).max - arr).astype(arr.dtype)
    return -arr  # float: best-effort; no fixture exercises it


def decode_tiff_ifd(data: bytes, ifd: Ifd) -> dict:
    """Decode the image described by one IFD into a dense chunky array.

    Returns dict with keys: width, height, num_samples, dtype (name like
    'u8'/'i16'), array (np.ndarray shape (h, w, spp), native byte order).
    """
    meta, segs = segment_plan(ifd)
    arr = assemble_segments(meta, (
        (seg, decode_planned_segment(
            data[seg["offset"] : seg["offset"] + seg["nbytes"]], seg))
        for seg in segs
    ))
    return {
        "width": meta["width"],
        "height": meta["height"],
        "num_samples": meta["num_samples"],
        "dtype": meta["dtype"],
        "array": arr,
    }
