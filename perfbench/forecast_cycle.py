"""forecast_cycle: the operational 6-hourly path, one cycle per op.

Each cycle lands a fresh seeded 52 x 41 ensemble drop as two
overlapping partial drops, drains them through the streaming skin
(forecast_stream -> dedup_forecast_drops -> run_available_now) with a
fresh checkpoint, runs the forecast pipeline inside foreachBatch,
collects the triggers and publishes the exposure JSON and layer CSVs.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener

from ibf_typhoon_data_pipeline_spark.operators.cache import release_caches
from ibf_typhoon_data_pipeline_spark.pipeline import run_forecast_pipeline
from ibf_typhoon_data_pipeline_spark.plans.typhoon import GRID_COLS, GRID_ROWS
from ibf_typhoon_data_pipeline_spark.sinks.publish import (
    write_exposure_json,
    write_layer_csv,
)
from ibf_typhoon_data_pipeline_spark.sources.ingest import land_tracks
from ibf_typhoon_data_pipeline_spark.streaming.micro_batch import (
    TRACK_SCHEMA,
    dedup_forecast_drops,
    forecast_stream,
    run_available_now,
)

from inputs import N_MEMBERS, N_STEPS, CheckFailed, ensemble_drop
from spans import pair_metrics, plan_windfield_rows

# raw windfield candidate pairs per cycle: positions x 0.25-degree grid
RAW_PAIRS = N_MEMBERS * N_STEPS * GRID_ROWS * GRID_COLS
# the two partial drops overlap on steps 14..27
FIRST_LAST_STEP, SECOND_FIRST_STEP = 27, 14


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class _DedupProgress(StreamingQueryListener):
    """Per-cycle (input rows, rows kept by the dedup) from query progress."""

    def __init__(self):
        self.by_cycle: dict[int, tuple[int, int]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if not p.sources or not p.stateOperators:
            return
        desc = p.sources[0].description
        tag = desc.rsplit("/cycle", 1)[-1].split("/", 1)[0]
        if tag.lstrip("-").isdigit():
            rows, kept = self.by_cycle.get(int(tag), (0, 0))
            self.by_cycle[int(tag)] = (
                rows + p.numInputRows,
                kept + p.stateOperators[0].numRowsUpdated,
            )


class ForecastCycle:
    def __init__(self, bench):
        self.b = bench
        self.progress = _DedupProgress()
        bench.spark.streams.addListener(self.progress)
        self.last: tuple[int, list] | None = None
        self.per_op: dict[str, list[float]] = {
            "land_bytes": [],
            "sink_bytes": [],
            "batches": [],
            "released": [],
            "evaluated": [],
            "above": [],
        }
        self.traced_ops: list[int] = []

    def warm_up(self) -> None:
        self.operate(-1)

    def operate(self, i: int) -> dict[str, float]:
        b, tr, spark = self.b, self.b.tracer, self.b.spark
        tracks = spark.createDataFrame(
            ensemble_drop(b.seed, i), schema=TRACK_SCHEMA
        )
        root = b.fresh_dir(f"cycle{i}")
        landing, ckpt, out = (
            os.path.join(root, d) for d in ("landing", "ckpt", "out")
        )
        state = {"batches": 0, "released": 0}

        def publish(batch, batch_id):
            state["batches"] += 1
            with tr.span("pipeline.triggers", i):
                res = run_forecast_pipeline(batch.sparkSession, tracks=batch)
                state["triggers"] = res.triggers.collect()
            state["t_trig"] = time.perf_counter()
            if tr.enabled:
                # read before unpersist: the cached windfield's plan
                # holds the pair counts of this cycle's windfield
                with tr.span("trace.plan_metrics", i):
                    state["wf_rows"] = plan_windfield_rows(res.windfield)
            with tr.span("sinks.exposure_json", i):
                write_exposure_json(
                    res.exposure_docs, os.path.join(out, "exposure")
                )
            with tr.span("sinks.layer_csv", i):
                for layer, df in (
                    ("windspeed", res.muni_hazard),
                    ("prob_within_50km", res.prob_within_50km),
                    ("trigger", res.triggers),
                ):
                    write_layer_csv(df, os.path.join(out, layer))
            with tr.span("pipeline.unpersist", i):
                res.unpersist()
            with tr.span("cache.release", i):
                state["released"] += release_caches()

        t0 = time.perf_counter()
        with tr.span("sources.land", i):
            land_tracks(
                tracks.filter(F.col("step") <= FIRST_LAST_STEP), landing, f"{i}a"
            )
            land_tracks(
                tracks.filter(F.col("step") >= SECOND_FIRST_STEP), landing, f"{i}b"
            )
        with tr.span("streaming.drain", i):
            run_available_now(
                dedup_forecast_drops(forecast_stream(spark, landing)), ckpt, publish
            )
        t_end = time.perf_counter()
        if tr.enabled:
            tr.count_jobs(i)
            self.traced_ops.append(i)
            ev, above = state.get("wf_rows", (0, 0))
            self.per_op["evaluated"].append(ev)
            self.per_op["above"].append(above)

        # correctness, outside the timed region
        trig = state.get("triggers")
        if state["batches"] < 1 or not trig or len(trig) != 1:
            raise CheckFailed(f"cycle {i}: expected one trigger row, got {trig!r}")
        for k, v in trig[0].asDict().items():
            if k.startswith("prob_") and (v is None or not 0.0 <= v <= 1.0):
                raise CheckFailed(f"cycle {i}: {k}={v} outside [0,1]")
        self._check_exposure(os.path.join(out, "exposure"), i)
        self.last = (i, trig)
        if i >= 0:
            self.per_op["land_bytes"].append(dir_bytes(landing))
            self.per_op["sink_bytes"].append(dir_bytes(out))
            self.per_op["batches"].append(state["batches"])
            self.per_op["released"].append(state["released"])
        shutil.rmtree(root)
        trigger_s = state["t_trig"] - t0
        return {
            "cycle_s": t_end - t0,
            "trigger_s": trigger_s,
            "mpairs_per_s": RAW_PAIRS / trigger_s / 1e6,
        }

    @staticmethod
    def _check_exposure(path: str, i: int) -> None:
        docs = 0
        for name in sorted(os.listdir(path)):
            if not name.startswith("part-"):
                continue
            with open(os.path.join(path, name)) as f:
                for line in f:
                    doc = json.loads(json.loads(line)["exposure_json"])
                    if not isinstance(doc, list):
                        raise CheckFailed(f"cycle {i}: exposure doc is not an array")
                    docs += 1
        if docs == 0:
            raise CheckFailed(f"cycle {i}: no exposure documents published")

    def final_check(self) -> None:
        """Streamed triggers of the last cycle == a batch pipeline run on
        the same tracks."""
        i, streamed = self.last
        spark = self.b.spark
        tracks = spark.createDataFrame(
            ensemble_drop(self.b.seed, i), schema=TRACK_SCHEMA
        )
        res = run_forecast_pipeline(spark, tracks=tracks)
        batch = res.triggers.collect()
        res.unpersist()
        release_caches()
        if batch[0].asDict() != streamed[0].asDict():
            raise CheckFailed(
                f"cycle {i}: streamed triggers {streamed} != batch {batch}"
            )

    def layers(self) -> dict[str, float]:
        tr, med = self.b.tracer, self.b.median
        for _ in range(30):  # progress events arrive asynchronously
            if all(op in self.progress.by_cycle for op in self.traced_ops):
                break
            time.sleep(0.1)
        seen = [self.progress.by_cycle[op] for op in self.traced_ops
                if op in self.progress.by_cycle]
        rows = sum(r for r, _ in seen)
        return {
            "sources.land_s": med(tr.per_op("sources.land")),
            "sources.land_bytes": med(self.per_op["land_bytes"]),
            "sources.tasks_failed": med(tr.per_op("sources", "tasks_failed")),
            "streaming.drain_overhead_s": med(tr.per_op("streaming.drain")),
            "streaming.batches": med(self.per_op["batches"]),
            "streaming.dedup_kept_ratio": sum(k for _, k in seen) / rows if rows else 0.0,
            "pipeline.triggers_s": med(tr.per_op("pipeline.triggers")),
            "pipeline.unpersist_s": med(tr.per_op("pipeline.unpersist")),
            "pipeline.jobs": med(tr.per_op("pipeline", "jobs")),
            "pipeline.stages": med(tr.per_op("pipeline", "stages")),
            "pipeline.tasks": med(tr.per_op("pipeline", "tasks")),
            "pipeline.tasks_failed": med(tr.per_op("pipeline", "tasks_failed")),
            "sinks.exposure_json_s": med(tr.per_op("sinks.exposure_json")),
            "sinks.layer_csv_s": med(tr.per_op("sinks.layer_csv")),
            "sinks.bytes_written": med(self.per_op["sink_bytes"]),
            "sinks.stages": med(tr.per_op("sinks", "stages")),
            "sinks.tasks": med(tr.per_op("sinks", "tasks")),
            "sinks.tasks_failed": med(tr.per_op("sinks", "tasks_failed")),
            **pair_metrics(self.per_op["evaluated"], self.per_op["above"]),
            "cache.released": med(self.per_op["released"]),
            "cache.release_s": med(tr.per_op("cache.release")),
        }
