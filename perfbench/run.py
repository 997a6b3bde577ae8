"""valideer_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload docs_check --seed 1 --seconds 15 --trace 0

Run from the repository root. Load model: one driver process, closed loop,
one client (the next call is issued only after the previous returns), on
``local[N]`` with N = the CPUs this process may use (``session.py``).

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (interpreter
start to the first timed call: session start, input generation, load,
warm-up), ``rows_per_s`` (input rows per second of timed work, over the
whole timed loop) and ``heap_peak_mb`` (the most old-generation heap the
JVM held during an iteration, median over iterations). Every
iteration's outputs are checked against the generator's expected counts;
``attempted`` and ``failed`` count checked operations.

``--trace 1`` alternates untraced and traced iterations, times the layers
the loop does not call, and reports the per-layer metrics: span self
times, Spark stage accounting per call, counts, and the tracing overhead.
A per-layer metric of a layer this workload does not call reads 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from contextlib import nullcontext
from dataclasses import asdict

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# timed iterations per run, even when --seconds is shorter: a median
# needs several samples
MIN_ITERATIONS = 3


# layer calls whose time is reported as "<call>_s"
LAYER_TIMES = [
    "sources.generate", "sources.load_table", "core.parse", "plans.compile",
    "plans.optimize", "plans.predicate",
    "engine.verdicts", "engine.violation_rows", "engine.adapted",
    "engine.write_partitioned", "engine.run_with_checkpoint", "engine.resume",
    "engine.write_quarantine",
    "constraints.suite", "constraints.unique", "constraints.references",
    "constraints.stats", "constraints.fd", "constraints.drift",
    "operators.duplicate_keys", "operators.orphan_keys",
    "operators.column_profile", "operators.quantile_drift",
]
# calls whose Spark stages are accounted ("<call>.<field>")
STAGE_CALLS = [
    "plans.predicate", "engine.verdicts", "engine.violation_rows", "engine.adapted",
    "engine.write_partitioned", "engine.run_with_checkpoint", "engine.resume",
    "engine.write_quarantine", "constraints.suite",
]
STAGE_FIELDS = {
    "cpu_s": "s", "run_s": "s", "gc_s": "s", "shuffle_write_bytes": "B",
    "spill_bytes": "B", "tasks": "count", "task_skew": "ratio",
}
COUNTS = {
    "engine.write_quarantine.files": "count",
    "engine.write_quarantine.bytes_per_doc": "B",
    "engine.resume.skipped_ratio": "ratio",
}


def per_layer_units() -> dict:
    units = {f"{name}_s": "s" for name in LAYER_TIMES}
    for call in STAGE_CALLS:
        units.update({f"{call}.{f}": u for f, u in STAGE_FIELDS.items()})
    units.update(COUNTS)
    units["jvm.peak_rss_mb"] = "MB"
    units["trace.overhead_pct"] = "%"
    units["stage.available"] = "count"
    return units


class Bench:
    """Times calls into the program; in traced iterations also records a
    span and the call's Spark stage totals."""

    def __init__(self):
        from spans import Tracer

        self.spark = None
        self.run_id = uuid.uuid4().hex[:12]
        self.tracer = Tracer(self.run_id)
        self.tracing = False
        self.heap = None  # session.HeapPeak, once the session runs
        self.call_times: dict[str, list[float]] = {}
        self.heap_mb: list[float] = []  # per untraced iteration
        self.stage_totals: dict[str, list] = {}
        # per-layer metrics measured once, outside traced calls
        self.values: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self._calls = 0

    def call(self, name: str, fn):
        from stagestats import job_group, read_group

        if not self.tracing:
            t0 = time.perf_counter()
            out = fn()
            self.call_times.setdefault(name, []).append(time.perf_counter() - t0)
            return out
        self._calls += 1
        group = f"{self.run_id}-{self._calls}"
        sc = self.spark.sparkContext
        # the span inside the job group: setting the group is py4j calls
        with job_group(sc, group), self.tracer.span(name) as span:
            out = fn()
        totals = read_group(sc, group)
        span.counts.update(asdict(totals))
        self.stage_totals.setdefault(name, []).append(totals)
        return out

    def record(self, metric: str, value: float) -> None:
        self.values[metric] = value

    def verify(self, failures: list) -> None:
        self.attempted += 1
        if failures:
            self.failed += 1
            for f in failures:
                print(f"CHECK FAILED: {f}", file=sys.stderr)

    def iterate(self, workload, traced: bool) -> float:
        """One checked iteration; returns its wall time (checks excluded)."""
        self.heap.start()
        self.tracing = traced
        t0 = time.perf_counter()
        try:
            with (self.tracer.span("iteration") if traced else nullcontext()):
                out = workload.iteration()
            wall = time.perf_counter() - t0
            if not traced:
                self.heap_mb.append(self.heap.peak_mb())
            self.verify(workload.check(out))
        except Exception:  # a failed call counts as a failed operation
            self._failed_operation()
            wall = time.perf_counter() - t0
        finally:
            self.tracing = False
        return wall

    def probe(self, workload) -> None:
        """The workload's traced layer probes, as one checked operation."""
        self.tracing = True
        try:
            workload.probe_layers()
        except Exception:
            self._failed_operation()
        finally:
            self.tracing = False

    def _failed_operation(self) -> None:
        traceback.print_exc()
        self.attempted += 1
        self.failed += 1


def _median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(workload, iteration_walls, setup_s, heap_mb) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "rows_per_s": {
            "value": workload.rows_per_iteration * len(iteration_walls) / sum(iteration_walls),
            "unit": "rows/s",
        },
        "heap_peak_mb": {"value": _median(heap_mb), "unit": "MB"},
    }


def per_layer(bench, untraced_walls, traced_walls, rss_mb) -> dict:
    values = {name: 0.0 for name in per_layer_units()}
    selfs = bench.tracer.self_times()
    available = True
    for call, totals in bench.stage_totals.items():  # traced calls: median per call
        values[f"{call}_s"] = _median(selfs[call])
        available = available and all(t.available for t in totals)
        if call in STAGE_CALLS:
            for f in STAGE_FIELDS:
                values[f"{call}.{f}"] = _median([getattr(t, f) for t in totals])
    values.update(bench.values)
    values["jvm.peak_rss_mb"] = rss_mb
    values["stage.available"] = 1 if available and bench.stage_totals else 0
    if untraced_walls and traced_walls:
        values["trace.overhead_pct"] = 100.0 * (
            _median(traced_walls) / _median(untraced_walls) - 1.0
        )
    units = per_layer_units()
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "valideer_spark", "__init__.py")):
        print(f"valideer_spark not found under {ROOT}: run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    args = parse_args(argv)
    from session import HeapPeak, jvm_pid, peak_rss_mb, start_session
    from workloads import WORKLOADS

    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    data_dir = os.path.join(work_dir, "data")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    spark = None
    # the generator runs in its own process while the JVM starts
    generator = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), args.workload, str(args.seed), data_dir],
        stdout=subprocess.PIPE,
    )
    try:
        bench = Bench()
        with bench.tracer.span("session.start"):  # set-up phases are always spans
            spark = start_session(work_dir)
        bench.spark = spark
        bench.heap = HeapPeak(spark)
        generated, _ = generator.communicate()
        if generator.returncode != 0:
            raise RuntimeError(f"input generator exited with {generator.returncode}")
        generated = json.loads(generated)
        bench.record("sources.generate_s", generated["seconds"])
        workload = WORKLOADS[args.workload](bench, data_dir, generated["expected"])
        workload.setup()
        for _ in range(workload.warmup_iterations):
            bench.iterate(workload, traced=False)
        setup_s = time.perf_counter() - T_START

        untraced, traced = [], []
        bench.call_times.clear()
        bench.heap_mb.clear()
        t_loop = time.perf_counter()
        while (time.perf_counter() - t_loop < args.seconds
               or len(untraced) < MIN_ITERATIONS):
            if args.trace and len(traced) % 2:  # ABBA order: warming favours neither
                traced.append(bench.iterate(workload, traced=True))
                untraced.append(bench.iterate(workload, traced=False))
                continue
            untraced.append(bench.iterate(workload, traced=False))
            if args.trace:
                traced.append(bench.iterate(workload, traced=True))
        rss_mb = peak_rss_mb(jvm_pid(spark))
        print("iteration_s " + " ".join(f"{w:.3f}" for w in untraced))

        for name, times in sorted(bench.call_times.items()):
            print(f"{name}_s {_median(times):.4f} s (median of {len(times)})")
        if args.trace:
            bench.probe(workload)
            spans_path = os.path.join(
                os.path.dirname(work_dir), f"spans-{args.workload}-seed{args.seed}.json"
            )
            bench.tracer.dump(spans_path)
            print(f"spans written to {spans_path}")
            metrics = per_layer(bench, untraced, traced, rss_mb)
        else:
            metrics = end_to_end(workload, untraced, setup_s, bench.heap_mb)
        for name, m in metrics.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
        print(f"fail_ratio {bench.failed / max(bench.attempted, 1):.6g} "
              f"({bench.failed}/{bench.attempted})")
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": metrics,
        }
    finally:
        if generator.poll() is None:
            generator.kill()
        generator.wait()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass  # holds another run's directory or a spans file
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
