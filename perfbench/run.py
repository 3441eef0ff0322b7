"""Closed-loop batch benchmark of the geotiff_spark engine.

    python3 perfbench/run.py --workload geo_pages --seed 1 --seconds 3 --trace 0

Run from the repository root; nothing needs installing. One driver
process runs one job at a time on `local[N]`, N = the cores this
process may use. A run:

1. generates (or reuses) the seeded inputs, timed as `bench.datagen_s`;
2. starts a session, timed from `get_spark` to warm Python workers
   (`setup_s`);
3. runs the first job, which is the run's one warm-up: it is left out
   of `job_s` and reported on its own as `first_job_s`; then timed warm
   jobs until `--seconds` have passed (at least one).

Every job's output is checked against the generator's expected
results; a failed job is counted, never retried. The last line of
standard output is the result JSON; the line before it is the full
report (settings, samples, per-workload metrics). `--trace 1` instead
reports per-layer metrics: it alternates untraced jobs (plan metrics,
Spark jobs) with traced jobs (layer spans), adds single-thread kernel
timings, and writes the spans to `.bench_cache/trace/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_cache"
DRIVER_MEM = "2g"        # the engine's 16g default cannot start on small hosts

E2E_UNITS = {
    "setup_s": "s", "job_s": "s", "first_job_s": "s", "items_per_s": "1/s",
    "peak_rss_mb": "MB", "resume_s": "s", "failed_ops_ratio": "ratio",
}
ITEM_NAMES = {"geo_pages": "pages", "geo_pipeline_resume": "pages",
              "text_dedup": "pages", "raster_tiles": "pixels"}
def host_settings(scale: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "shuffle_partitions": 2 * cores,
        "driver_mem": DRIVER_MEM,
        "scale": scale,
        "python": sys.executable,
        "worker_pythonpath": str(ROOT),
        "local_dir": str(CACHE / "spark-local"),
    }


def configure_env(settings: dict) -> None:
    """Everything the session and its Python workers read from the
    environment; must run before pyspark starts a JVM."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["driver_mem"]
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["cores"])
    # every JVM, spark-submit's launcher included, keeps its temp files
    # and perf counters out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)


def _identity(batches):
    yield from batches


def start_session(settings: dict):
    """get_spark → session ready with warm Python workers; returns
    (spark, seconds)."""
    from geotiff_spark.session import get_spark

    extra = {
        "spark.sql.shuffle.partitions": str(settings["shuffle_partitions"]),
        "spark.local.dir": settings["local_dir"],
        "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=settings["master"], extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    n = settings["cores"]
    spark.range(0, n, numPartitions=n).mapInPandas(_identity, "id long").collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _jvm_pools(spark):
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryPoolMXBeans()


def reset_peak_memory(spark) -> None:
    """Start the JVM's pool peaks afresh (called after set-up)."""
    for pool in _jvm_pools(spark):
        pool.resetPeakUsage()


def peak_memory_mb(spark) -> tuple[float, dict[str, float]]:
    """Peak memory of the workload, and its parts: the peak used bytes
    of the JVM's heap and non-heap pools since `reset_peak_memory` (the
    pinned heap's resident size says nothing about use), plus the peak
    resident size (VmHWM) of every Python worker process under the JVM.

    Eden is reported but left out of the total: its peak is the young
    generation size G1 picked between collections, which follows GC
    timing, not the data the jobs hold; what survives a collection shows
    in the survivor and old pools."""
    parts: dict[str, float] = {}
    for pool in _jvm_pools(spark):
        peak = pool.getPeakUsage()
        if peak is not None:
            parts[f"jvm:{pool.getName()}"] = peak.getUsed() / (1 << 20)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    workers = []
    for pid in _proc_tree(jvm_pid):
        if pid == jvm_pid:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        workers.append(int(line.split()[1]) / 1024)
        except OSError:
            continue
    parts["python_workers"] = sum(workers)
    parts["python_worker_count"] = len(workers)
    total = sum(v for k, v in parts.items()
                if k not in ("python_worker_count", "jvm:G1 Eden Space"))
    return total, parts


class Runner:
    """Runs one workload's jobs in one session and keeps the tallies."""

    def __init__(self, spark, workload: str, data: Path, meta: dict) -> None:
        import workloads

        self.spark = spark
        self.kind, self.job, self.untimed_job = workloads.WORKLOADS[workload]
        self.data, self.meta = data, meta
        self.scratch = _scratch(workload)
        self.scratch.mkdir(parents=True, exist_ok=True)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, job=None, tracer=None, run_id: str = "") -> tuple[float, dict]:
        """One job, timed from the first engine call to the verified
        result. Failures are counted and reported, never retried. A
        traced job's layer self times come back under "self_s"."""
        import workloads

        ctx = workloads.Ctx(self.spark, self.data, self.meta, self.scratch, tracer, run_id)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = (job or self.job)(ctx)
        except Exception:  # a failed job is a measurement, not a crash
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4))
            out = {}
        secs = time.perf_counter() - t0
        out["self_s"] = ctx.self_s
        return secs, out


def _scratch(workload: str) -> Path:
    """Job outputs of this process (the pipeline's written buckets)."""
    return CACHE / "runs" / f"{workload}-{os.getpid()}"


def _inputs(args) -> tuple[Path, dict]:
    import datagen
    import workloads

    kind = workloads.WORKLOADS[args.workload][0]
    # a traced run always generates, so bench.datagen_s is its own figure
    return datagen.ensure(ROOT, kind, args.seed, args.scale, fresh=bool(args.trace))


def _time_loop(seconds: float, body) -> None:
    """Call body(n) for n = 0, 1, … until `seconds` have passed, at
    least once."""
    start = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - start < seconds:
        body(n)
        n += 1


def measure(args, settings: dict) -> tuple[dict, dict, Runner]:
    """--trace 0: the end-to-end metrics."""
    data, meta = _inputs(args)
    spark, setup_s = start_session(settings)
    try:
        reset_peak_memory(spark)
        runner = Runner(spark, args.workload, data, meta)
        first_s, _ = runner.run()
        times, outs = [], []

        def body(_n):
            secs, out = runner.run()
            times.append(secs)
            outs.append(out)

        _time_loop(args.seconds, body)
        rss, rss_parts = peak_memory_mb(spark)
    finally:
        stop_session(spark)
        shutil.rmtree(_scratch(args.workload), ignore_errors=True)
    job_s = statistics.median(times)
    items = meta["pixels"] if runner.kind == "rasters" else meta["pages"]
    # bench.datagen_s is None when the inputs came from the cache
    metrics = {
        "setup_s": setup_s,
        "job_s": job_s,
        "first_job_s": first_s,
        "items_per_s": items / job_s,
        "peak_rss_mb": rss,
        "failed_ops_ratio": runner.failed / runner.attempted,
    }
    resumes = [o["resume_s"] for o in outs if "resume_s" in o]
    if resumes:
        metrics["resume_s"] = statistics.median(resumes)
    report = {
        "workload": args.workload, "seed": args.seed, "settings": settings,
        "bench.datagen_s": meta["datagen_s"],
        f"{ITEM_NAMES[args.workload]}_per_s": items / job_s,
        "samples": {"job_s": times, "resume_s": resumes},
        "peak_memory_parts_mb": rss_parts,
        "units": {k: E2E_UNITS[k] for k in metrics},
        "metrics": metrics,
    }
    return metrics, report, runner


def trace(args, settings: dict) -> tuple[dict, dict, Runner]:
    """--trace 1: per-layer metrics from untraced and traced jobs."""
    import kernels
    import planmetrics
    import workloads

    data, meta = _inputs(args)
    spark, _setup_s = start_session(settings)
    tracer = workloads.Tracer()
    try:
        runner = Runner(spark, args.workload, data, meta)
        runner.run(runner.untimed_job)
        harvester = planmetrics.PlanHarvester(spark)
        tracker = spark.sparkContext.statusTracker()
        plain_s, traced_s, plans, jobs, extras = [], [], [], [], []

        def body(n):
            group = f"plain-{n}"
            spark.sparkContext.setJobGroup(group, group)
            secs, _ = runner.run()
            plain_s.append(secs)
            jobs.append(len(tracker.getJobIdsForGroup(group)))
            plans.append(harvester.harvest())
            spark.sparkContext.setJobGroup(f"traced-{n}", f"traced-{n}")
            with tracer.span("job", f"traced-{n}"):
                secs, out = runner.run(tracer=tracer, run_id=f"traced-{n}")
            traced_s.append(secs)
            extras.append({k: v for k, v in out.items() if k.startswith("plans.")})
            extras[-1].update({f"{k}_s": v for k, v in out["self_s"].items()})
            harvester.harvest()  # traced plans are not reported

        _time_loop(args.seconds, body)
    finally:
        stop_session(spark)
        shutil.rmtree(_scratch(args.workload), ignore_errors=True)

    metrics: dict[str, float] = {"bench.datagen_s": meta["datagen_s"]}
    for name in planmetrics.METRIC_NAMES:
        metrics[name] = statistics.median(p[0].get(name, 0.0) for p in plans)
    metrics["driver.jobs"] = statistics.median(jobs)
    per_node = _median_per_node([p[1] for p in plans])
    lineage = [v for k, v in per_node.items() if k.endswith(" count_rows")]
    if lineage:
        metrics["plans.lineage.python_ms"] = sum(v.get("python.total_ms", 0.0) for v in lineage)
        metrics["plans.lineage.bytes_sent"] = sum(v.get("python.bytes_sent", 0.0) for v in lineage)
    for key in sorted({k for e in extras for k in e}):
        metrics[key] = statistics.median(e[key] for e in extras if key in e)
    metrics.update(kernels.measure(args.seed))
    metrics["trace.job_s"] = statistics.median(traced_s)
    metrics["trace.untraced_job_s"] = statistics.median(plain_s)
    _write_spans(args, tracer.spans)
    report = {
        "workload": args.workload, "seed": args.seed, "settings": settings,
        "tracing_overhead_s": metrics["trace.job_s"] - metrics["trace.untraced_job_s"],
        "metrics": metrics, "plan_nodes": per_node,
    }
    # the raster read layer's share of a warm job: decode passes per job
    # (plan nodes running the decoder) × one forced read ÷ untraced job
    passes = per_node.get("MapInPandas _decode_batches", {}).get("python.nodes")
    if passes and "sources.rasters.read_s" in metrics:
        report["raster_read_passes"] = passes
        report["raster_read_share"] = (passes * metrics["sources.rasters.read_s"]
                                       / metrics["trace.untraced_job_s"])
    return metrics, report, runner


def _median_per_node(samples: list[dict]) -> dict[str, dict[str, float]]:
    keys = {(node, m) for s in samples for node, ms in s.items() for m in ms}
    out: dict[str, dict[str, float]] = {}
    for node, m in sorted(keys):
        out.setdefault(node, {})[m] = statistics.median(s.get(node, {}).get(m, 0.0) for s in samples)
    return out


def _write_spans(args, spans: list[dict]) -> None:
    tdir = CACHE / "trace"
    tdir.mkdir(parents=True, exist_ok=True)
    path = tdir / f"{args.workload}-s{args.seed}-{os.getpid()}.json"
    path.write_text(json.dumps(spans))


def result_line(metrics: dict, runner: Runner, trace_on: bool) -> dict:
    """The result line: exactly the metrics BENCHMARK.json names. Traced,
    a layer this workload does not run reads 0."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = spec["per_layer" if trace_on else "end_to_end"]
    if trace_on:
        metrics = {m["name"]: 0.0 for m in spec} | metrics
    missing = [m["name"] for m in spec if m["name"] not in metrics]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in spec},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not (ROOT / "geotiff_spark").is_dir() or not (ROOT / "BENCHMARK.json").is_file():
        print(f"not a geotiff_spark checkout: {ROOT}", file=sys.stderr)
        return 2
    settings = host_settings(args.scale)
    configure_env(settings)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    metrics, report, runner = (trace if args.trace else measure)(args, settings)
    for err in runner.errors:
        print(err, file=sys.stderr)
    report["errors"] = runner.errors
    print(json.dumps(report))
    print(json.dumps(result_line(metrics, runner, bool(args.trace))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
