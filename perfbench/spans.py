"""Per-layer accounting for the traced run.

Each layer call runs under its own, never reused, Spark job group: the
status store adds the counts of every job in a group together, so reusing a
group name would fold a second pass into the first. Stream micro-batches run
on the query's own thread under the job group Spark gives them, the query's
``runId``, and are read through that group.

Counts come from Spark's in-process status store (no event log, no UI
server): job ids per group from the status tracker, stage metrics from
``statusStore().stageData``, which returns a Scala ``Seq`` read with
``.apply(i)``. The session must raise ``spark.ui.retainedJobs`` and
``spark.ui.retainedStages`` so no stage of a run is evicted before it is read.

Spans (name, start, end, parent run id) and the per-layer rows stay in
memory and are written to one JSON file by ``Tracer.dump``.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid

LAYERS = (
    "minhash.signatures",
    "minhash.bands",
    "minhash.candidates",
    "minhash.verify",
    "exact.pairs",
    "simhash.pairs",
    "substring.pairs",
    "pipeline.merge",
    "components.assign",
    "classify.classify",
    "sinks.write",
    "streaming.microbatch",
    "streaming.compact_index",
)

# per-layer field -> unit
FIELDS = {
    "wall_s": "s",
    "task_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "jobs": "count",
    "tasks": "count",
    "max_task_s": "s",
    "rows_out": "rows",
}


def job_group(spark, label: str) -> str:
    """Put the calling thread's next jobs in a new, never reused job group."""
    group = f"{label}-{uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(group, label, False)
    return group


class StatusStore:
    """Reads job and stage metrics of one job group from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._gw = self.sc._gateway
        self._core = self.sc._jsc.sc()

    def group_totals(self, group: str) -> dict:
        """Totals over every stage that ran tasks for a job of ``group``.
        Skipped stages (shuffle output reused from an earlier job) have
        their own stage ids and no completed tasks, so nothing is counted
        twice."""
        # the status store is fed asynchronously by the listener bus
        self._core.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        jvm = self._gw.jvm
        store = self._core.statusStore()
        q_max = self._gw.new_array(jvm.double, 1)
        q_max[0] = 1.0
        t = {
            "jobs": len(jobs),
            "tasks": 0,
            "task_s": 0.0,
            "max_task_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
        }
        for sid in sorted(stage_ids):
            attempts = store.stageData(
                sid, False, jvm.java.util.ArrayList(), False,
                self._gw.new_array(jvm.double, 0),
            )
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.numCompleteTasks() == 0:
                    continue
                t["tasks"] += sd.numCompleteTasks()
                t["task_s"] += sd.executorRunTime() / 1000
                t["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                t["shuffle_read_bytes"] += sd.shuffleReadBytes()
                t["spill_bytes"] += sd.diskBytesSpilled()
                summary = store.taskSummary(sd.stageId(), sd.attemptId(), q_max)
                if summary.isDefined():
                    top = summary.get().executorRunTime().apply(0) / 1000
                    t["max_task_s"] = max(t["max_task_s"], top)
        return t


class Tracer:
    """Spans and per-layer rows of the traced passes of one benchmark run."""

    def __init__(self, spark):
        self.spark = spark
        self.store = StatusStore(spark)
        self.spans: list[dict] = []
        self.rows: list[dict] = []
        self.run_id = ""

    def start_pass(self) -> str:
        self.run_id = uuid.uuid4().hex
        return self.run_id

    def span(self, name: str, start: float, end: float, parent: str | None,
             span_id: str | None = None) -> str:
        """Record one span; ``parent`` is the id of the span that caused it
        (a layer's parent is its pass, whose id is the pass's run id)."""
        span_id = span_id or uuid.uuid4().hex
        self.spans.append(
            {"id": span_id, "name": name, "start": start, "end": end,
             "parent": parent, "run_id": self.run_id}
        )
        return span_id

    def record(self, layer: str, group: str, start: float, end: float, rows_out: int) -> dict:
        """Close one layer call: its span plus its per-layer row."""
        span_id = self.span(layer, start, end, self.run_id)
        row = {"layer": layer, "run_id": self.run_id, "span_id": span_id,
               "wall_s": end - start,
               "rows_out": rows_out, **self.store.group_totals(group)}
        self.rows.append(row)
        return row

    def layer(self, name: str, make):
        """Run one layer: ``make()`` builds the layer's output DataFrame
        through the library's public function; it is materialized under a
        fresh job group so every job it needs is counted for this layer.
        The row count runs afterwards, outside the layer's group."""
        g = job_group(self.spark, name)
        t0 = time.time()
        df = make().localCheckpoint(eager=True)
        t1 = time.time()
        job_group(self.spark, "accounting")
        self.record(name, g, t0, t1, df.count())
        return df

    def action(self, name: str, run, rows_out) -> None:
        """Like ``layer`` for a layer that ends in a write, not a DataFrame;
        ``rows_out()`` counts what the write produced."""
        g = job_group(self.spark, name)
        t0 = time.time()
        run()
        t1 = time.time()
        job_group(self.spark, "accounting")
        self.record(name, g, t0, t1, rows_out())

    def metrics(self) -> dict:
        """Per-layer medians over the traced passes; a layer the workload
        never calls reports zeros."""
        out = {}
        for layer in LAYERS:
            rows = [r for r in self.rows if r["layer"] == layer]
            for field, unit in FIELDS.items():
                vals = [r[field] for r in rows]
                out[f"{layer}.{field}"] = {
                    "value": statistics.median(vals) if vals else 0,
                    "unit": unit,
                }
        # useful work of the verify layer: verified rows per candidate row
        rows = {(r["run_id"], r["layer"]): r["rows_out"] for r in self.rows}
        yields = [
            rows[(run, "minhash.verify")] / n
            for (run, layer), n in rows.items()
            if layer == "minhash.candidates" and n > 0
        ]
        out["minhash.verify.yield"] = {
            "value": statistics.median(yields) if yields else 0,
            "unit": "ratio",
        }
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "layers": self.rows, **extra}, f, indent=1)
