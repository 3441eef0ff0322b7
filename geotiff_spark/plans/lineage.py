"""Per-partition lineage + row-count metrics (north rule).

`instrument(df, stage)` attaches a JVM-side observed metric to `df`: a
`histogram_numeric` over `spark_partition_id()`, which is projected into a
temporary column for the metric and dropped again. The returned frame has
the same schema and rows; its plan gains a CollectMetrics node, but no
Python node, no shuffle and no extra job. `flush(path)` persists the counts
as parquet plus a json summary — the lineage side-table for
checkpoint-resumable reruns.

Why the counts are exact: every row of a partition has the same partition
id, so each task's partial histogram is the single bin (pid, rows), and
histogram_numeric merges bins only once it holds more than `nb` distinct
values. A stage that re-executes a task can deliver a pid's bin twice;
`snapshot()` keeps the max, so re-executed tasks overwrite, not add.
A partition with no rows has no bin and is not listed.

Spark keeps the metrics of the first action that runs the frame (a
persisted frame is counted by the pass that fills the cache), and delivers
them asynchronously on the listener bus, after the action has returned.
"""

from __future__ import annotations

import json
import os
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_PID_COL = "__lineage_partition_id"
# histogram_numeric merges bins only past nb distinct values: with the
# largest nb it never merges two partitions' bins
_NO_MERGE_BINS = 2**31 - 1
# bound on waiting for the listener bus to deliver observed metrics
_DELIVERY_WAIT_MS = 10_000


class StageMetrics:
    """Collects (stage, partition_id) → row counts across jobs."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.observations: list[tuple[str, Observation]] = []
        self.started = time.time()

    def instrument(self, df: DataFrame, stage: str) -> DataFrame:
        observation = Observation()
        self.observations.append((stage, observation))
        return (
            df.select("*", F.spark_partition_id().alias(_PID_COL))
            .observe(observation,
                     F.histogram_numeric(F.col(_PID_COL),
                                         F.lit(_NO_MERGE_BINS)).alias("bins"))
            .drop(_PID_COL)
        )

    def _ran(self) -> list[tuple[str, Observation]]:
        """The observations whose metrics have arrived. Waits, bounded, for
        the listener bus to drain when some have not; a frame that never
        ran stays undelivered and is skipped."""

        def delivered():
            return [(stage, o) for stage, o in self.observations
                    if o._jo.future().isCompleted()]

        done = delivered()
        if len(done) < len(self.observations):
            bus = self.spark.sparkContext._jsc.sc().listenerBus()
            try:
                bus.waitUntilEmpty(_DELIVERY_WAIT_MS)
            except Py4JJavaError as exc:  # on timeout, report what arrived
                name = exc.java_exception.getClass().getName()
                if name != "java.util.concurrent.TimeoutException":
                    raise
            done = delivered()
        return done

    def snapshot(self) -> list[dict]:
        rows: dict[tuple[str, int], int] = {}
        for stage, observation in self._ran():
            for b in observation.get["bins"] or []:
                key = (stage, int(b["x"]))
                rows[key] = max(rows.get(key, 0), int(b["y"]))
        return [{"stage": stage, "partition_id": pid, "rows": n}
                for (stage, pid), n in sorted(rows.items())]

    def flush(self, path: str) -> None:
        """Persist the lineage side-table (parquet + a json summary)."""
        rows = self.snapshot()
        os.makedirs(path, exist_ok=True)
        stamp = int(self.started)
        with open(f"{path}/metrics_{stamp}.json", "w") as fh:
            json.dump(rows, fh)
        if rows:
            self.spark.createDataFrame(rows).coalesce(1).write.mode(
                "append"
            ).parquet(f"{path}/parquet")
