"""The benchmark's workloads: each is a sequence of calls into the
engine's public functions, one `Ctx.step` per layer, followed by an
output check against the generator's expected results.

Untraced, `step` only calls. Traced, it records a span around the call
and, when the call returned a DataFrame, forces that frame in a child
span, so a lazy layer's self time is its forced prefix minus the
previous forced prefix. Nothing inside the engine is instrumented.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import datagen


class CheckFailed(AssertionError):
    """An engine output disagreed with the expected result."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Tracer:
    """In-memory spans: (name, start, end, parent, run id)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, run_id: str):
        rec = {"name": name, "run": run_id,
               "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def force(df: DataFrame) -> None:
    """Compute every column of `df` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """One workload run: session, inputs, and the optional tracer."""

    def __init__(self, spark, data: Path, meta: dict, scratch: Path,
                 tracer: Tracer | None = None, run_id: str = "") -> None:
        self.spark = spark
        self.data = data
        self.meta = meta
        self.scratch = scratch
        self.tracer = tracer
        self.run_id = run_id
        self.prefix_s: dict[str, float] = {}
        self.self_s: dict[str, float] = {}

    def step(self, layer: str, fn, base: str | None = None):
        """Call one layer. Traced, add its self time to `self_s`: the
        call, plus for a returned frame its forced prefix minus the
        forced prefix of `base` (the layer whose frame it consumed);
        for an action, the call minus `base`'s prefix."""
        if self.tracer is None:
            return fn()
        with self.tracer.span(layer, self.run_id) as span:
            out = fn()
        own = span["end"] - span["start"]
        base_s = self.prefix_s.get(base, 0.0) if base else 0.0
        if isinstance(out, DataFrame):
            with self.tracer.span(layer + "#force", self.run_id) as span:
                force(out)
            self.prefix_s[layer] = span["end"] - span["start"]
            own += max(self.prefix_s[layer] - base_s, 0.0)
        else:
            own = max(own - base_s, 0.0)
        self.self_s[layer] = self.self_s.get(layer, 0.0) + own
        return out


# ---------------------------------------------------------------------------
# geo_pages: pages → fused PIP join → groupBy(poly_id).count
# ---------------------------------------------------------------------------

def _read_pages(ctx: Ctx) -> DataFrame:
    return ctx.spark.read.parquet(str(ctx.data / "pages")).select("url", "html")


def geo_pages(ctx: Ctx) -> dict:
    from geotiff_spark.operators.spatial_join import fused_pages_pip

    spark = ctx.spark
    pages = ctx.step("sources.pages.scan", lambda: _read_pages(ctx))
    hits = ctx.step("operators.spatial_join.fused_pages_pip",
                    lambda: fused_pages_pip(spark, pages, datagen.CELL_RES, carry=("url",)),
                    base="sources.pages.scan")
    rows = ctx.step("result.count_by_polygon",
                    lambda: hits.groupBy("poly_id").count().collect(),
                    base="operators.spatial_join.fused_pages_pip")
    got = {r["poly_id"]: r["count"] for r in rows}
    expect(got == ctx.meta["hits"]["per_poly"],
           f"geo_pages per-polygon hits {got} != brute force "
           f"{ctx.meta['hits']['per_poly']}")
    return {}


# ---------------------------------------------------------------------------
# geo_pipeline_resume: the run_pipeline.py job, killed and resumed
# ---------------------------------------------------------------------------

FAIL_AFTER = 1       # simulated kill after this many bucket batches
BATCH_SIZE = 8       # buckets per write job (run_pipeline.py's value)


def _token_udf():
    from pyspark.sql.pandas.functions import pandas_udf

    from geotiff_spark.functions import cells as cellmod

    @pandas_udf("string")
    def token(cell: pd.Series) -> pd.Series:
        return pd.Series(cellmod.cell_to_token(cell.to_numpy(dtype="int64")))

    return token


def _pipeline_attempt(ctx: Ctx, out: Path, fail_after: int | None) -> dict:
    from geotiff_spark.operators.spatial_join import fused_pages_pip
    from geotiff_spark.plans.checkpoint import resumable_write
    from geotiff_spark.plans.lineage import StageMetrics
    from geotiff_spark.plans.partitioning import adaptive_prefix_column

    spark = ctx.spark
    lineage = StageMetrics(spark)
    pages = ctx.step("sources.pages.scan", lambda: _read_pages(ctx))
    pages = ctx.step("plans.lineage.instrument", lambda: lineage.instrument(pages, "scan"),
                     base="sources.pages.scan")
    hits = ctx.step("operators.spatial_join.fused_pages_pip",
                    lambda: fused_pages_pip(spark, pages, datagen.CELL_RES, carry=("url",)),
                    base="plans.lineage.instrument")
    hits = ctx.step("plans.lineage.instrument", lambda: lineage.instrument(hits, "pip_join"),
                    base="operators.spatial_join.fused_pages_pip")
    token = _token_udf()
    hits = ctx.step("udf.cell_token",
                    lambda: hits.withColumn("cell_token", token(F.col("cell"))).persist(),
                    base="plans.lineage.instrument")
    target = max(ctx.meta["hits"]["rows"] // 24, 1)
    try:
        # both read the persisted frame, so neither has a prefix to subtract
        keyed = ctx.step("plans.partitioning.histogram",
                         lambda: adaptive_prefix_column(hits, "cell_token", target_rows=target))
        stats = ctx.step("plans.checkpoint.write",
                         lambda: resumable_write(keyed, str(out), "cell_prefix",
                                                 batch_size=BATCH_SIZE, fail_after=fail_after))
    finally:
        hits.unpersist()
    stats["lineage"] = lineage.snapshot()
    return stats


def _output_digest(ctx: Ctx, out: Path) -> tuple[int, int]:
    row = ctx.spark.read.parquet(str(out)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws("|", "url", "poly_id"))).alias("crc"),
    ).collect()[0]
    return int(row["n"]), int(row["crc"] or 0)


def _check_pipeline_output(ctx: Ctx, out: Path, stats: dict) -> None:
    hits = ctx.meta["hits"]
    n, crc = _output_digest(ctx, out)
    expect((n, crc) == (hits["rows"], hits["crc_sum"]),
           f"pipeline output (rows, crc) {(n, crc)} != geo_pages brute force "
           f"{(hits['rows'], hits['crc_sum'])}")
    scanned = sum(r["rows"] for r in stats["lineage"] if r["stage"] == "scan")
    expect(scanned == ctx.meta["pages"],
           f"lineage scan rows {scanned} != pages {ctx.meta['pages']}")


def _fresh_out(ctx: Ctx, name: str) -> Path:
    out = ctx.scratch / name
    shutil.rmtree(out, ignore_errors=True)
    return out


def geo_pipeline_uninterrupted(ctx: Ctx) -> dict:
    """The same job without a kill: the reference output the resumed
    run must equal."""
    out = _fresh_out(ctx, "pipeline_uninterrupted")
    stats = _pipeline_attempt(ctx, out, None)
    expect(not stats["skipped"] and stats["written"],
           f"uninterrupted write skipped {stats['skipped']}")
    _check_pipeline_output(ctx, out, stats)
    shutil.rmtree(out, ignore_errors=True)
    return {}


def geo_pipeline_resume(ctx: Ctx) -> dict:
    out = _fresh_out(ctx, "pipeline_out")
    try:
        _pipeline_attempt(ctx, out, FAIL_AFTER)
        raise CheckFailed("the simulated kill did not fire")
    except RuntimeError as exc:
        if "simulated kill" not in str(exc):
            raise
    t_resume = time.perf_counter()
    stats = _pipeline_attempt(ctx, out, None)
    resume_s = time.perf_counter() - t_resume
    expect(len(stats["skipped"]) == FAIL_AFTER * BATCH_SIZE and stats["written"],
           f"resume skipped {len(stats['skipped'])} buckets, wrote {len(stats['written'])}")
    _check_pipeline_output(ctx, out, stats)
    result = {"resume_s": resume_s}
    if ctx.tracer is not None:
        result.update(_resume_layers(ctx, out, stats))
    shutil.rmtree(out, ignore_errors=True)
    return result


def _resume_layers(ctx: Ctx, out: Path, stats: dict) -> dict:
    """Bucket skew and resume usefulness, measured on the output."""
    per_bucket = {str(r["cell_prefix"]): r["count"] for r in
                  ctx.spark.read.parquet(str(out)).groupBy("cell_prefix").count().collect()}
    sizes = np.array(list(per_bucket.values()), dtype=np.float64)
    committed = sum(per_bucket.get(b, 0) for b in stats["written"])
    computed = sum(r["rows"] for r in stats["lineage"] if r["stage"] == "pip_join")
    return {
        "plans.partitioning.skew_ratio": float(sizes.max() / sizes.mean()),
        "plans.checkpoint.buckets_written": len(stats["written"]),
        "plans.checkpoint.buckets_skipped": len(stats["skipped"]),
        "plans.checkpoint.useful_ratio": committed / computed if computed else 0.0,
    }


# ---------------------------------------------------------------------------
# raster_tiles: decode → tiles → tile/focal stats → sampling → zonal stats
# ---------------------------------------------------------------------------

def _raster_paths(ctx: Ctx) -> list[str]:
    return sorted(str(p) for p in (ctx.data / "rasters").glob("*.tif"))


def raster_tiles(ctx: Ctx) -> dict:
    from geotiff_spark.operators.sample import with_raster_sample, zonal_stats
    from geotiff_spark.operators.tiling import focal_stats, raster_to_tiles, tile_stats
    from geotiff_spark.sources.rasters import read_rasters

    spark, meta, tile = ctx.spark, ctx.meta, datagen.TILE
    paths = _raster_paths(ctx)
    rasters = ctx.step("sources.rasters.read",
                       lambda: read_rasters(spark, str(ctx.data / "rasters")))
    tiles = ctx.step("operators.tiling.raster_to_tiles", lambda: raster_to_tiles(rasters, tile),
                     base="sources.rasters.read")
    ts = ctx.step("operators.tiling.tile_stats", lambda: tile_stats(tiles).toPandas(),
                  base="operators.tiling.raster_to_tiles")
    fs = ctx.step("operators.tiling.focal_stats", lambda: focal_stats(tiles, 1, tile).toPandas(),
                  base="operators.tiling.raster_to_tiles")
    _check_tile_stats(ts, meta)
    _check_focal_stats(fs, meta)

    points = spark.read.parquet(str(ctx.data / "points"))
    values = {}
    for mode in ("auto", "copartition"):
        layer = f"operators.sample.with_raster_sample.{mode}"
        joined = ctx.step(layer, lambda: with_raster_sample(points, spark, paths,
                                                            F.col("raster_id"), mode=mode))
        got = ctx.step(layer, lambda: joined.select("pid", "value").toPandas(), base=layer)
        zs = ctx.step("operators.sample.zonal_stats",
                      lambda: zonal_stats(joined, key="zone").toPandas(), base=layer)
        values[mode] = got.sort_values("pid")["value"].to_numpy()
        _check_zonal(zs, meta, mode)
    want = np.load(ctx.data / "expect.npy")
    for mode, v in values.items():
        expect(np.array_equal(v, want),
               f"{mode} samples differ from direct indexing at "
               f"{int(np.sum(v != want))} points")
    expect(np.array_equal(values["auto"], values["copartition"]),
           "broadcast and co-partitioned sampling disagree")
    return {}


def _tol(rid: str, meta: dict) -> float:
    dtype = next(f["dtype"] for f in meta["files"] if f["raster_id"] == rid)
    return 1e-5 if dtype == "<f4" else 1e-12


def _check_tile_stats(ts: pd.DataFrame, meta: dict) -> None:
    want = {(t["raster_id"], t["tile_x"], t["tile_y"]): t for t in meta["tile_stats"]}
    expect(len(ts) == len(want), f"tile_stats rows {len(ts)} != {len(want)}")
    for r in ts.itertuples(index=False):
        w = want.get((r.raster_id, r.tile_x, r.tile_y))
        expect(w is not None, f"unexpected tile {r.raster_id} {r.tile_x},{r.tile_y}")
        expect(r.v_min == w["v_min"] and r.v_max == w["v_max"]
               and abs(r.v_mean - w["v_mean"]) <= _tol(r.raster_id, meta) * abs(w["v_mean"]),
               f"tile_stats {r} != {w}")


def _check_focal_stats(fs: pd.DataFrame, meta: dict) -> None:
    cols = ["f_sum", "f_cnt", "f_min", "f_max"]
    want = {(t["raster_id"], t["tile_x"], t["tile_y"]): [t[c] for c in cols]
            for t in meta["focal_stats"]}
    got = {(r.raster_id, r.tile_x, r.tile_y): [int(getattr(r, c)) for c in cols]
           for r in fs.itertuples(index=False)}
    expect(got == want, "focal_stats differ from the numpy recomputation")


def _check_zonal(zs: pd.DataFrame, meta: dict, mode: str) -> None:
    want = meta["zonal"]
    expect(len(zs) == len(want), f"{mode} zonal rows {len(zs)} != {len(want)}")
    for r in zs.itertuples(index=False):
        n, mean, lo, hi = want[r.zone]
        expect(r.n_points == n and r.min_value == lo and r.max_value == hi
               and abs(r.avg_value - mean) <= 1e-9 * abs(mean),
               f"{mode} zonal {r} != {want[r.zone]}")


# ---------------------------------------------------------------------------
# text_dedup: substring dedup, MinHash LSH candidates, incremental bloom
# ---------------------------------------------------------------------------

def _digest(pdf: pd.DataFrame) -> str:
    rows = pdf.sort_values(list(pdf.columns)).to_csv(index=False)
    return hashlib.sha1(rows.encode("utf-8")).hexdigest()


def text_dedup(ctx: Ctx) -> dict:
    from geotiff_spark.operators import dedup
    from geotiff_spark.queries_textdata import bloom_incremental_frame

    meta = ctx.meta
    docs = ctx.step("sources.pages.scan",
                    lambda: ctx.spark.read.parquet(str(ctx.data / "docs")))
    sub = ctx.step("operators.dedup.substring",
                   lambda: dedup.exact_substring_dedup(docs, k=20, winnow=5),
                   base="sources.pages.scan")
    sub_pdf = ctx.step("operators.dedup.substring", lambda: sub.toPandas(),
                       base="operators.dedup.substring")
    pairs = ctx.step("operators.dedup.minhash",
                     lambda: dedup.minhash_lsh_pairs(docs, verify=False),
                     base="sources.pages.scan")
    pairs_pdf = ctx.step("operators.dedup.minhash", lambda: pairs.toPandas(),
                         base="operators.dedup.minhash")
    bloom = ctx.step("queries_textdata.bloom",
                     lambda: bloom_incremental_frame(docs, m=1 << 20, k=4,
                                                     hist_mod=datagen.BLOOM_HIST_MOD),
                     base="sources.pages.scan")
    bloom_pdf = ctx.step("queries_textdata.bloom", lambda: bloom.toPandas(),
                         base="queries_textdata.bloom")

    expect(len(sub_pdf) == meta["docs"] and int(sub_pdf["n_chars"].sum()) == meta["chars"],
           f"substring dedup rows {len(sub_pdf)} / chars {int(sub_pdf['n_chars'].sum())}")
    expect(bool((sub_pdf["cleaned_len"] == sub_pdf["n_chars"] - sub_pdf["n_removed"]).all()),
           "substring dedup cleaned_len != n_chars - n_removed")
    removed = dict(zip(sub_pdf["doc_id"], sub_pdf["n_removed"]))
    planted = meta["planted_pairs"]
    expect(all(removed[a] > 0 and removed[b] > 0 for a, b in planted),
           "a planted verbatim copy kept all its characters")
    cand = set(zip(pairs_pdf["id_a"].tolist(), pairs_pdf["id_b"].tolist()))
    missing = [p for p in planted if tuple(p) not in cand]
    expect(not missing, f"minhash missed planted copies {missing[:5]}")
    want = meta["bloom"]
    expect(len(bloom_pdf) == len(want), f"bloom rows {len(bloom_pdf)} != {len(want)}")
    for r in bloom_pdf.itertuples(index=False):
        n_chunks, seen_at_least = want[str(r.doc_id)]
        expect(r.n_chunks == n_chunks and seen_at_least <= r.n_maybe_seen <= n_chunks,
               f"bloom doc {r.doc_id}: {r} vs chunks {n_chunks}, seen >= {seen_at_least}")
    digest = {"substring": _digest(sub_pdf), "minhash": _digest(pairs_pdf),
              "bloom": _digest(bloom_pdf)}
    _check_stable_digest(ctx, digest)
    return {}


def _check_stable_digest(ctx: Ctx, digest: dict) -> None:
    """Every run of one seed must produce the same outputs."""
    path = ctx.data.parent.parent / "digest" / f"{ctx.meta['key']}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    if not path.exists():
        tmp = path.with_name(f"digest.json.tmp{os.getpid()}")
        tmp.write_text(json.dumps(digest))
        tmp.replace(path)
    first = json.loads(path.read_text())
    expect(first == digest, f"text_dedup outputs changed across runs: {digest} != {first}")


WORKLOADS = {
    "geo_pages": ("pages", geo_pages, geo_pages),
    "geo_pipeline_resume": ("pipeline", geo_pipeline_resume, geo_pipeline_uninterrupted),
    "raster_tiles": ("rasters", raster_tiles, raster_tiles),
    "text_dedup": ("text", text_dedup, text_dedup),
}
"""name -> (input kind, measured job, the traced run's untimed first job)."""
