#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload forecast_cycle --seed 1 \\
        --seconds 30 --trace 0

Runs one workload (see README.md) from the root of a checkout in one
process on local[nproc], in a closed loop with one client, for
``--seconds`` seconds after set-up, checks the outputs, and prints as
its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer metrics (names and
units from BENCHMARK.json) and writes the spans to perfbench/traces/.

Everything the run writes goes to a temp dir under perfbench/ that it
removes on exit (Spark local dirs, java.io.tmpdir, TMPDIR included).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ibf_typhoon_data_pipeline_spark"
DRIVER_MEMORY = "3g"


def steal_sample() -> tuple[int, int] | None:
    """(steal ticks, user..steal ticks) from /proc/stat — the same
    sample bench.py's weather record takes (guest ticks are already
    inside user/nice, so they are not summed again)."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(before, after) -> float:
    if before is None or after is None or after[1] <= before[1]:
        return 0.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    """Session lifetime, scratch dirs and shared helpers for a workload."""

    def __init__(self, seed: int, nproc: int, work: str):
        self.seed = seed
        self.nproc = nproc
        self.work = work
        self.spark = None
        self.sc = None
        self.jvm = None
        self.tracer = None

    def start_spark(self, cores: int) -> None:
        from pyspark import SparkContext

        from ibf_typhoon_data_pipeline_spark.session import get_spark
        from spans import Tracer

        self.spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            extra_conf={
                "spark.local.dir": self.work,
                # -XX:-UsePerfData: no hsperfdata file under /tmp
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm = SparkContext._gateway.proc
        self.tracer = Tracer(self.sc, False)

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = self.sc = None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_spark()
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if self.jvm is not None:
            if self.jvm.stdin:
                self.jvm.stdin.close()  # the gateway exits on stdin EOF
            try:
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(beans.get(k).getCollectionTime(), 0) for k in range(beans.size())) / 1e3

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    @staticmethod
    def median(values) -> float:
        values = list(values)
        return float(statistics.median(values)) if values else 0.0


def load_metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def run(args, work: str) -> dict:
    import forecast_cycle
    import windfield_envelope

    workloads = {
        "forecast_cycle": forecast_cycle.ForecastCycle,
        "windfield_envelope": windfield_envelope.WindfieldEnvelope,
    }
    e2e_units, layer_units = load_metric_specs()
    nproc = len(os.sched_getaffinity(0))
    b = Bench(args.seed, nproc, work)
    load_start = os.getloadavg()[0]
    steal0 = steal_sample()
    try:
        t = time.perf_counter()
        b.start_spark(nproc)
        jvm_start_s = time.perf_counter() - t
        wl = workloads[args.workload](b)
        t = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START
        steal1 = steal_sample()
        gc0 = b.gc_seconds()

        samples: dict[bool, list[dict]] = {False: [], True: []}
        attempted = failed = 0
        deadline = time.perf_counter() + args.seconds
        while attempted == 0 or time.perf_counter() < deadline:
            # the traced run alternates traced and untraced ops, so the
            # tracing overhead is measured inside one run
            traced = bool(args.trace) and attempted % 2 == 0
            b.tracer.enabled = traced
            attempted += 1
            try:
                samples[traced].append(wl.operate(attempted - 1))
            except Exception:
                failed += 1
                traceback.print_exc()
        b.tracer.enabled = False
        gc_s = b.gc_seconds() - gc0
        peak_rss_mb = vm_hwm_mb(b.jvm.pid) + vm_hwm_mb("self")
        steal2 = steal_sample()
        load_end = os.getloadavg()[0]
        t_measured = time.perf_counter()
        if attempted > failed:
            try:
                wl.final_check()
            except Exception:
                failed += 1
                traceback.print_exc()
        check_s = time.perf_counter() - t_measured

        ops = samples[False] + samples[True]

        def p50(key: str, which=None) -> float:
            return b.median(s[key] for s in (which if which is not None else ops))

        weather = {
            "session.nproc": nproc,
            "weather.load1_start": load_start,
            "weather.load1_end": load_end,
            "weather.steal_pct_setup": steal_pct(steal0, steal1),
            "weather.steal_pct_measure": steal_pct(steal1, steal2),
        }
        print("perfbench weather: " + json.dumps(weather), file=sys.stderr)
        print(
            f"perfbench phases: setup {setup_s:.1f}s, measure "
            f"{t_measured - T_START - setup_s:.1f}s ({attempted} ops), "
            f"final check {check_s:.1f}s; op seconds "
            + " ".join(f"{s['cycle_s']:.2f}" for s in ops),
            file=sys.stderr,
        )
        if not args.trace:
            values = {
                "cycle_p50_s": p50("cycle_s"),
                "trigger_p50_s": p50("trigger_s"),
                "envelope_mpairs_per_s": p50("mpairs_per_s"),
                "setup_s": setup_s,
            }
            units = e2e_units
        else:
            from ibf_typhoon_data_pipeline_spark.operators.bench_probe import (
                latency_probe_seconds,
            )

            probe_jobs = 20
            values = {
                **weather,
                "session.jvm_start_s": jvm_start_s,
                "session.warmup_s": warmup_s,
                "session.gc_s": gc_s,
                "session.peak_rss_mb": peak_rss_mb,
                "session.job_latency_ms": latency_probe_seconds(b.spark, probe_jobs)
                / probe_jobs * 1e3,
                "run.ops": attempted,
                "run.error_rate": failed / attempted,
                "trace.overhead_s": p50("cycle_s", samples[True])
                - p50("cycle_s", samples[False])
                if samples[True] and samples[False] else 0.0,
            }
            spans_tracer = b.tracer
            values.update(wl.layers())
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            spans_tracer.dump(
                os.path.join(
                    HERE, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
                ),
                {"workload": args.workload, "seed": args.seed, "metrics": values},
            )
            units = layer_units
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                name: {"value": float(values.get(name, 0.0)), "unit": unit}
                for name, unit in units.items()
            },
        }
    finally:
        b.shutdown()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["forecast_cycle", "windfield_envelope"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]
    # pin parallelism to this host before the package reads it at import
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    work = tempfile.mkdtemp(prefix=".work-", dir=HERE)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
