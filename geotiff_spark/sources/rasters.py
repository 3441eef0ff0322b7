"""Raster ingest: binaryFile scan → mapInPandas decode → rasters DataFrame.

Engine equivalent of GeoTiff::read (the reference crate, src/lib.rs:49-84).
read_rasters parallelizes across FILES (the common corpus shape): each file
is decoded whole by functions.geotiff.read_geotiff in one task.
read_rasters_parallel parallelizes WITHIN files: it ships the strips/tiles
of one file to different tasks and places them back together, for corpora
of few huge rasters. Both run the same layout (tiff.segment_plan), segment
decoder (tiff.decode_planned_segment), placement (tiff.assemble_segments),
geo header parse (geotiff.geo_header) and row builders, so their rows are
bit-identical, error rows included.
At 100 TB the rasters table is written once to Parquet and reused — the
decode cost is paid one time per raster, not per query (persisted-table
sampling is golden-tested).

Schema (SURVEY.md §1.3): data carried as raw native-endian numpy bytes +
dtype tag. Spark has no unsigned types, so u16..u64 must NOT round-trip
through long columns — the bytes+tag form is lossless for all 10 dtypes.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

RASTER_SCHEMA = StructType(
    [
        StructField("raster_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("num_samples", IntegerType()),
        StructField("dtype", StringType()),
        StructField(
            "transform",
            StructType(
                [
                    StructField("kind", StringType()),
                    StructField("coeffs", ArrayType(DoubleType())),
                ]
            ),
        ),
        StructField("raster_type", StringType()),
        StructField("geo_keys", MapType(StringType(), StringType())),
        StructField(
            "extent",
            StructType(
                [
                    StructField("minx", DoubleType()),
                    StructField("miny", DoubleType()),
                    StructField("maxx", DoubleType()),
                    StructField("maxy", DoubleType()),
                ]
            ),
        ),
        StructField("data", BinaryType()),
        StructField("error", StringType()),
    ]
)


def _raster_row(raster_id: str, rec: dict, data: bytes | None) -> dict:
    """The RASTER_SCHEMA row of a decoded raster record (read_geotiff keys;
    ``array`` is passed as ``data`` bytes)."""
    kind, coeffs = rec["transform"]
    return {
        "raster_id": raster_id,
        "width": rec["width"],
        "height": rec["height"],
        "num_samples": rec["num_samples"],
        "dtype": rec["dtype"],
        "transform": {"kind": kind, "coeffs": [float(c) for c in coeffs]},
        "raster_type": rec["raster_type"],
        "geo_keys": {k: str(v) for k, v in rec["geo_keys"].items()},
        "extent": dict(zip(("minx", "miny", "maxx", "maxy"), rec["extent"])),
        "data": data,
        "error": None,
    }


def _error_text(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def _error_row(raster_id: str, error: str) -> dict:
    """The RASTER_SCHEMA row of a raster that failed to decode: an
    error-status row, not a failed job."""
    row = dict.fromkeys(RASTER_SCHEMA.fieldNames())
    row.update(raster_id=raster_id, error=error)
    return row


def _raster_id(path: str) -> str:
    return path.rsplit("/", 1)[-1]


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # import inside the UDF: executors only need the pure-numpy kernel
    from geotiff_spark.functions.geotiff import read_geotiff

    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            rid = _raster_id(path)
            try:
                rec = read_geotiff(bytes(content))
                rows.append(_raster_row(rid, rec, rec["array"].tobytes()))
            except Exception as exc:
                rows.append(_error_row(rid, _error_text(exc)))
        yield pd.DataFrame(rows)


def read_rasters(
    spark: SparkSession, path: str | list[str], glob: str = "*.tif"
) -> DataFrame:
    """Scan GeoTIFF files and decode to the rasters DataFrame.

    ``spark.read.format('binaryFile')`` parallelizes across files; decode
    runs in ``mapInPandas`` (Arrow batches, no per-row Python overhead on
    the Spark side; the kernel itself is whole-file numpy). ``path`` may
    be one directory or a list of directories (multi-source corpus).
    """
    paths = [path] if isinstance(path, str) else list(path)
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(paths)
        .select("path", "content")
    )
    return scan.mapInPandas(_decode_batches, schema=RASTER_SCHEMA)


# read_rasters_parallel stages. Each raster has one header row, whose
# ``header_json`` is {"meta": segment_plan meta, "row": its RASTER_SCHEMA
# row without data}, or {"row": its error row} when the header does not
# parse; its ``seg_json`` is null. Each segment row carries its plan entry
# in ``seg_json``, which gains "decode_error" when stage 2 fails on it.
_SEGMENT_SCHEMA = StructType([
    StructField("raster_id", StringType()),
    StructField("seg_bytes", BinaryType()),
    StructField("seg_json", StringType()),
    StructField("header_json", StringType()),
])
_DECODED_SCHEMA = StructType([
    StructField("raster_id", StringType()),
    StructField("decoded", BinaryType()),
    StructField("seg_json", StringType()),
    StructField("header_json", StringType()),
])


def _explode_segments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stage 1: parse each file's header, emit one row per segment with
    only that segment's compressed bytes."""
    from geotiff_spark.functions import geotiff, tiff

    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            data = bytes(content)
            rid = _raster_id(path)
            try:
                _bo, ifds = tiff.parse_ifds(data)
                meta, segs = tiff.segment_plan(ifds[0])
                rec = {**meta, **geotiff.geo_header(
                    ifds[0], meta["width"], meta["height"])}
                header = {"meta": meta, "row": _raster_row(rid, rec, None)}
            except Exception as exc:
                header, segs = {"row": _error_row(rid, _error_text(exc))}, []
            rows.append({"raster_id": rid, "seg_bytes": b"", "seg_json": None,
                         "header_json": json.dumps(header)})
            for seg in segs:
                # each segment carries its own decode fields, so stage 2
                # decodes with no join back to the header
                off, n = seg.pop("offset"), seg.pop("nbytes")
                rows.append({"raster_id": rid, "seg_bytes": data[off : off + n],
                             "seg_json": json.dumps(seg), "header_json": None})
        yield pd.DataFrame(rows, columns=_SEGMENT_SCHEMA.fieldNames())


def _decode_segments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stage 2: decode segments wherever they landed."""
    from geotiff_spark.functions import tiff

    for pdf in batches:
        decoded, seg_jsons = [], []
        for seg_bytes, seg_json in zip(pdf["seg_bytes"], pdf["seg_json"]):
            out = b""
            if seg_json is not None:
                seg = json.loads(seg_json)
                try:
                    out = tiff.decode_planned_segment(bytes(seg_bytes), seg).tobytes()
                except Exception as exc:
                    seg["decode_error"] = _error_text(exc)
                    seg_json = json.dumps(seg)
            decoded.append(out)
            seg_jsons.append(seg_json)
        yield pd.DataFrame({
            "raster_id": pdf["raster_id"], "decoded": decoded,
            "seg_json": seg_jsons, "header_json": pdf["header_json"],
        })


def _assemble_raster(key, pdf):
    """Stage 3: place one raster's decoded segments into its row. No type
    hints, so pyspark uses the positional applyInPandas protocol."""
    import numpy as np

    from geotiff_spark.functions import tiff

    header = json.loads(pdf["header_json"].dropna().iloc[0])
    row = header["row"]
    if row["error"] is None:
        try:
            meta = header["meta"]
            native = np.dtype(meta["dtype_np"]).newbyteorder("=")
            parts = pdf.dropna(subset=["seg_json"])
            segs = [json.loads(s) for s in parts["seg_json"]]
            failed = [s["decode_error"] for s in segs if "decode_error" in s]
            if failed:
                row = _error_row(key[0], failed[0])
            else:
                full = tiff.assemble_segments(meta, (
                    (seg, np.frombuffer(buf, dtype=native).reshape(
                        seg["rows"], seg["cols"], seg["spp"]))
                    for seg, buf in zip(segs, parts["decoded"])
                ))
                row["data"] = full.tobytes()
        except Exception as exc:
            row = _error_row(key[0], _error_text(exc))
    return pd.DataFrame([row])


def read_rasters_parallel(
    spark: SparkSession,
    path: str,
    glob: str = "*.tif",
    partitions: int | None = None,
) -> DataFrame:
    """Strip/tile-parallel raster ingest: one FILE is no longer the unit
    of parallelism — segments are.

    Stage 1 (mapInPandas): parse the IFD, explode per-segment rows
    carrying only each segment's compressed bytes + placement.
    Stage 2 (repartition → mapInPandas): decode segments anywhere.
    Stage 3 (groupBy raster → applyInPandas): reassemble + metadata.

    Same output schema and bit-identical results as read_rasters (tested);
    use it when single large rasters would serialize decode (e.g. one
    LZW-compressed file with thousands of strips).
    """
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    segs = scan.mapInPandas(_explode_segments, schema=_SEGMENT_SCHEMA)
    n_part = partitions or spark.sparkContext.defaultParallelism
    decoded = segs.repartition(n_part).mapInPandas(
        _decode_segments, schema=_DECODED_SCHEMA)
    return decoded.groupBy("raster_id").applyInPandas(
        _assemble_raster, schema=RASTER_SCHEMA)


def rasters_metadata(df: DataFrame) -> DataFrame:
    """Metadata-only projection (column pruning keeps `data` unread when a
    query needs only dims/extent — e.g. partition pruning of page→raster
    assignment via A3 extents)."""
    return df.select(
        "raster_id", "width", "height", "num_samples", "dtype",
        "transform", "raster_type", "extent", "error",
    )
