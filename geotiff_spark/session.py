"""SparkSession builder with the engine's tuned defaults.

Scale posture (SURVEY.md §4): AQE on (incl. skew-join splitting), Arrow on
with large batches (all custom kernels are vectorized pandas UDFs), shuffle
partitions sized for the sandbox but overridable for a real cluster.

Host fit: the session defaults to ``local[os.cpu_count()]`` and a heap of
half the host's MemAvailable in whole GiB, capped at 16g;
``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override them.

Per-task Python cost: pyspark's worker calls
``importlib.invalidate_caches()`` at the start of every task, which
before CPython 3.13 re-reads the whole zip directory of pyspark.zip and
the spark-core jar on ``sys.path`` (~250 ms a task on a 4-core host).
Importing ``geotiff_spark`` on a worker makes that re-read happen only
when an archive changed (see ``geotiff_spark._keep_unchanged_zip_directories``),
so a reused worker pays it once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of MemAvailable in whole GiB (at least 1g), capped at 16g;
    16g where /proc/meminfo is unavailable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    gib = int(line.split()[1]) // (2 * 1024 * 1024)
                    return f"{max(1, min(16, gib))}g"
    except OSError:
        pass
    return "16g"


_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

DEFAULT_CONFIGS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # broadcast the polygon cell index / raster dim tables aggressively
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
    "spark.sql.session.timeZone": "UTC",
    # local mode: the driver JVM IS the executor — size it for every
    # core's task streaming Arrow batches
    "spark.driver.memory": _DRIVER_MEM,
    # Pin the heap (-Xms == driver memory) and pre-touch it once at
    # startup. Round-6 finding: with the default lazy/shrinkable heap,
    # long sessions intermittently collapsed into KERNEL-time page-fault
    # storms (sys 85-95%, user ~1%; /proc sampling showed
    # exc_page_fault + memcg accounting; identical queries ran 10-30x
    # slower: rep_signals 13 s -> 431 s mid-session) — G1 uncommits
    # heap after concurrent cycles and this sandbox's virtualized host
    # makes RE-faulting returned pages brutally slow whenever the host
    # is tight. Pinning forbids the uncommit and pre-touch pays the
    # fault cost exactly once at startup; an interleaved same-window
    # A/B (BENCH/BASELINE.md round 6) showed the pinned config stable
    # at 13-18 s where the lazy config hit 147 s. The default dropped
    # 48g -> 16g to bound the one-time pre-touch tax (a tight-host
    # window made a 28g pre-touch take minutes; 16g starts in ~10 s and
    # the full suite fits it), and now to at most half of MemAvailable
    # so the pin also starts on a small host (16g cannot on 15 GiB). On
    # a real cluster this is the standard spark-executor posture anyway
    # (fixed-size pre-touched heaps).
    "spark.driver.extraJavaOptions":
        f"-Xms{_DRIVER_MEM} -XX:+AlwaysPreTouch",
    # Same fault-storm fix for the PYTHON workers (they cannot pre-touch
    # a fixed heap): stop glibc from returning freed memory to the OS —
    # no trim, and keep sub-32MB allocations (every Arrow batch at the
    # 8192-row setting) in the arena. Workers plateau at their peak RSS
    # instead of re-faulting returned pages through the virtualized
    # host's slow path every batch wave.
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "17179869184",
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "33554432",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "geotiff_spark",
    master: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in {**DEFAULT_CONFIGS, **(extra or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
