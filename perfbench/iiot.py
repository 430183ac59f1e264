"""``iiot_nightly``: the reference's own pipeline, one pass per operation.

A pass is:

1. ``streaming`` -- an availableNow replay of the wire drop: the lenient
   decode with a dead-letter split (``decode_sensor_json_with_dlq``), then
   (a) the watermarked 1-minute rollup (``streaming_rollup``) into a memory
   table and (b) the raw passthrough and dead letters into parquet;
2. ``plans.orchestrator.run_nightly_etl_wap`` of the raw table into the
   date-partitioned lake (write-audit-publish);
3. ``plans.lifecycle.apply_retention`` on the published version, which
   drops the oldest day.

The input is generated untimed (``inputs.write_iiot_wire_drop``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from iiot_data_engineering_lab_assignment_spark.functions.scalars import parse_event_time
from iiot_data_engineering_lab_assignment_spark.operators.aggregates import sensor_rollup
from iiot_data_engineering_lab_assignment_spark.plans.lifecycle import (
    apply_retention,
    read_published,
)
from iiot_data_engineering_lab_assignment_spark.plans.orchestrator import (
    NightlyFlow,
    run_nightly_etl_wap,
)
from iiot_data_engineering_lab_assignment_spark.sources.readers import (
    decode_sensor_json_with_dlq,
)
from iiot_data_engineering_lab_assignment_spark.streaming.jobs import streaming_rollup

from . import inputs

NAME = "iiot_nightly"

#: 12 hours of the reference's 5-second tick (8,640 ticks x 16 sensors =
#: 138,240 readings), ending 06:00, so the drop spans two dates and
#: retention has a whole day to drop.
HOURS = 12
STEP_SECONDS = 5
#: The drop is 8 files; 4 per trigger replays it in 2 micro-batches.
FILES_PER_TRIGGER = 4
GROUP_COLS = ["machine_id", "sensor_type"]


class IiotNightly:
    def __init__(self, work: str, seed: int):
        self.work = os.path.join(work, NAME)
        self.seed = seed
        self.drop_dir = os.path.join(self.work, "drop")
        self.lake_dir = os.path.join(self.work, "lake")
        self.truth: dict = {}

    def prepare(self, spark, tracer) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        with tracer.span("sources", "generate_backfill") as a:
            self.truth = inputs.write_iiot_wire_drop(
                spark, self.drop_dir, self.seed, HOURS / 24, STEP_SECONDS
            )
            a["rows"] = self.truth["lines"]
        self.items = self.truth["lines"]

    #: Passes share the lake, so they never run concurrently.
    parallel_warmup = False
    #: Layers a pass calls; their per-layer metrics must all be measured.
    layers = ("sources", "streaming", "orchestrator", "lifecycle")

    def op_kind(self, i: int) -> str:
        return "pass"

    def warmup_ops(self) -> int:
        return 1

    def round_ops(self) -> int:
        return 1

    def run_op(self, spark, tracer, i: int) -> dict:
        """One pass; returns its timing, layer numbers and what the check needs."""
        pdir = os.path.join(self.work, f"pass-{i}")
        raw_dir, dlq_dir = os.path.join(pdir, "raw"), os.path.join(pdir, "dlq")
        rollup_table = f"iiot_rollup_{self.seed}_{i}"
        m: dict = {}
        # layer times are the spans' own walls, which leave out the tracer's work
        with tracer.span("streaming", "availableNow_replay") as a:
            src = (
                spark.readStream.schema("value STRING")
                .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
                .text(self.drop_dir)
            )
            good, _ = decode_sensor_json_with_dlq(src)
            rollup = streaming_rollup(
                good.withColumn("event_time", parse_event_time("timestamp")),
                "event_time",
                "1 minute",
                "5 seconds",
                GROUP_COLS,
            )
            q_roll = (
                rollup.writeStream.format("memory")
                .queryName(rollup_table)
                .outputMode("complete")
                .option("checkpointLocation", os.path.join(pdir, "ckpt_rollup"))
                .trigger(availableNow=True)
                .start()
            )
            q_roll.awaitTermination()

            def land(batch, batch_id):
                ok, dead = decode_sensor_json_with_dlq(batch)
                ok.withColumn("event_time", parse_event_time("timestamp")).write.mode(
                    "append"
                ).parquet(raw_dir)
                dead.write.mode("append").parquet(dlq_dir)

            q_raw = (
                src.writeStream.foreachBatch(land)
                .option("checkpointLocation", os.path.join(pdir, "ckpt_raw"))
                .trigger(availableNow=True)
                .start()
            )
            q_raw.awaitTermination()
            a["job_groups"] = (str(q_roll.runId), str(q_raw.runId))
            a["phases_ms"] = {
                "planning_ms": float(
                    sum(
                        p["durationMs"].get("queryPlanning", 0)
                        for q in (q_roll, q_raw)
                        for p in q.recentProgress
                    )
                )
            }
        flow = NightlyFlow(max_retries=3, retry_delay_s=1.0)
        with tracer.span("orchestrator", "run_nightly_etl_wap") as o:
            published = run_nightly_etl_wap(
                spark, spark.read.parquet(raw_dir), self.lake_dir, ts_col="event_time", flow=flow
            )
        with open(os.path.join(self.lake_dir, "_CURRENT")) as f:
            version_dir = os.path.join(self.lake_dir, "_versions", f.read().strip())
        files, nbytes = _parquet_files(version_dir)
        with tracer.span("lifecycle", "apply_retention") as r:
            # keep only the end date: the earlier date is dropped whole
            dropped = apply_retention(
                spark, version_dir, "event_time", 0, now=inputs.IIOT_END.date().isoformat()
            )
        wall = a["wall_s"] + o["wall_s"] + r["wall_s"]  # the file listing between is not timed

        progress = q_roll.recentProgress
        m["streaming.replay_s"] = a["wall_s"]
        m["streaming.batches"] = float(len(progress))
        m["streaming.input_rows"] = float(sum(p["numInputRows"] for p in progress))
        m["streaming.state_rows"] = float(
            sum(s["numRowsTotal"] for s in q_roll.lastProgress["stateOperators"])
        )
        steps = {r.name: r for r in flow.results}
        for step in ("check_source", "run_spark_job", "verify_counts"):
            m[f"orchestrator.{step}_s"] = steps[step].elapsed_s if step in steps else 0.0
        m["orchestrator.attempts"] = float(sum(r.attempts for r in flow.results))
        m["lifecycle.retention_s"] = r["wall_s"]
        m["lifecycle.files_written"] = float(files)
        m["lifecycle.bytes_written"] = float(nbytes)
        m["lifecycle.bytes_per_input_row"] = nbytes / self.items
        return {
            "wall_s": wall,
            "items": self.items,
            "metrics": m,
            "pass_dir": pdir,
            "raw_dir": raw_dir,
            "dlq_dir": dlq_dir,
            "rollup_table": rollup_table,
            "published": published,
            "steps_ok": all(r.ok for r in flow.results),
            "dropped_partitions": dropped,
        }

    def check_op(self, spark, op: dict) -> list[str]:
        """Compare one pass's outputs with the generated ground truth and
        with a batch recomputation; returns the failures found."""
        raw = spark.read.parquet(op["raw_dir"])
        stream_rollup = spark.table(op["rollup_table"])
        w = F.window("event_time", "1 minute")
        batch_rollup = sensor_rollup(
            raw.select(
                w.start.alias("window_start"), w.end.alias("window_end"), *GROUP_COLS, "value"
            ),
            "window_start",
            "window_end",
            *GROUP_COLS,
        ).select(stream_rollup.columns)
        rollup_diff = (
            stream_rollup.exceptAll(batch_rollup).count()
            + batch_rollup.exceptAll(stream_rollup).count()
        )
        dropped_day = min(self.truth["per_day"])
        observed = {
            "published": op["published"] and op["steps_ok"],
            "decoded_rows": raw.count(),
            "dlq_rows": spark.read.parquet(op["dlq_dir"]).count(),
            "lake_rows": read_published(spark, self.lake_dir).count(),
            "rollup_diff_rows": rollup_diff,
            "dropped_partitions": op["dropped_partitions"],
        }
        op["metrics"]["sources.dlq_rows"] = float(observed["dlq_rows"])
        return check_iiot(self.truth, dropped_day, observed)

    def cleanup_op(self, spark, op: dict) -> None:
        spark.catalog.dropTempView(op["rollup_table"])
        shutil.rmtree(op["pass_dir"], ignore_errors=True)


def check_iiot(truth: dict, dropped_day: str, observed: dict) -> list[str]:
    """Failures of one pass against the drop's ground truth."""
    errs = []
    if not observed["published"]:
        errs.append("nightly flow did not publish")
    if observed["decoded_rows"] != truth["decoded"]:
        errs.append(f"decoded {observed['decoded_rows']} != planted {truth['decoded']}")
    if observed["dlq_rows"] != truth["corrupt"]:
        errs.append(f"dead letters {observed['dlq_rows']} != planted {truth['corrupt']}")
    if observed["rollup_diff_rows"] != 0:
        errs.append(f"streaming rollup differs from batch in {observed['rollup_diff_rows']} rows")
    kept = truth["decoded"] - truth["per_day"].get(dropped_day, 0)
    if observed["lake_rows"] != kept:
        errs.append(f"published rows {observed['lake_rows']} != decoded minus retention {kept}")
    if observed["dropped_partitions"] != 1:
        errs.append(f"retention dropped {observed['dropped_partitions']} partitions, not 1")
    return errs


def _parquet_files(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size
