#!/usr/bin/env python3
"""EDF ingest benchmark.

    python3 perfbench/run.py --workload ingest_long --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed under ``.perfbench_work/``, builds a session with ``get_spark()`` on
``local[<cpus>]``, runs the workload as a closed loop with one client and
checks every output outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
calls with spans, job groups and an event log and prints the per-layer
metrics instead (spans go to ``.perfbench_work/<run>/spans.json``).  The
last stdout line is the result object; the line before it holds the raw
samples behind each median.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WARMUP_RUNS = 2
MIN_WARM_RUNS = 6


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str, trace: bool) -> None:
    """Keep Spark, the JVM and the Python workers inside ``work``; must
    run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # half the CPUs run tasks; the rest are left to the driver, the JVM's
    # compiler and GC threads, so that tasks do not queue behind them
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    # a 2 GB driver heap is ample for these inputs and bounds the JVM's
    # lazily grown heap, whose size otherwise dominates peak RSS
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # the whole heap is committed at start, so peak RSS does not follow
    # how far the heap happened to grow before a run's GC
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{heap} -XX:-UsePerfData'"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    os.chdir(work)


def _start_session():
    """``get_spark()`` plus one trivial job; returns (spark, seconds)."""
    from processor_edf_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


class Runner:
    """Runs one workload and tallies attempted and failed runs."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _fail(self, errors: list[str]) -> None:
        self.failed += 1
        self.errors += errors
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)

    def once(self, spark, tr, span_attrs: dict | None = None) -> float | None:
        """One timed run, checked afterwards; None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if span_attrs is not None:
                with tr.span("run", **span_attrs):
                    result = self.wl.run(spark, tr)
            else:
                result = self.wl.run(spark, tr)
        except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
            self._fail([traceback.format_exc()])
            return None
        seconds = time.perf_counter() - t0
        self._check(self.wl.check, result)
        return seconds

    def check_once(self, spark) -> None:
        self.attempted += 1
        self._check(self.wl.check_once, spark)

    def _check(self, fn, arg) -> None:
        try:
            errors = fn(arg)
        except Exception:  # noqa: BLE001 — a check that raises is a failed check
            errors = [traceback.format_exc()]
        if errors:
            self._fail(errors)


def measure(wl, seconds: float) -> tuple[Runner, dict, dict]:
    """End-to-end metrics with tracing off."""
    from spans import PeakRss, Tracer, stop_spark

    runner = Runner(wl)
    warm, peaks = [], []
    with PeakRss() as rss:
        spark, setup = _start_session()
        tr = Tracer(spark.sparkContext, "run", enabled=False)
        wl.attach(spark)
        cold = runner.once(spark, tr)
        # the JVM is still compiling through the first warm runs: they are
        # run and checked but left out of run_s
        warmup = [runner.once(spark, tr) for _ in range(WARMUP_RUNS)]
        rss.take()
        t0 = time.perf_counter()
        # Warm runs keep getting faster for about ten runs (JIT), so the
        # median depends on how many runs it covers: a floor of
        # MIN_WARM_RUNS fixes that count wherever runs take longer than
        # seconds / MIN_WARM_RUNS.  Runs that keep failing end the loop.
        while time.perf_counter() - t0 < seconds or (
            len(warm) < MIN_WARM_RUNS and runner.attempted < 2 * MIN_WARM_RUNS + 2
        ):
            dt = runner.once(spark, tr)
            if dt is not None:
                warm.append(dt)
                peaks.append(rss.take())
        runner.check_once(spark)
        stop_spark(spark)
    run_s = _median(warm)
    values = {
        "setup_s": setup,
        "cold_run_s": cold or 0.0,
        "run_s": run_s,
        "samples_per_s": wl.inp.n_samples / run_s if run_s else 0.0,
        "peak_rss_mb": _median(peaks),
    }
    raw = {"setup_s": [setup], "cold_run_s": [cold], "warmup_s": warmup, "run_s": warm,
           "peak_rss_mb": peaks}
    return runner, values, raw


def traced(wl, seconds: float, work: str) -> tuple[Runner, dict, dict]:
    """Per-layer metrics: fused runs with spans, each layer alone, and
    executor totals from the event log."""
    from spans import Tracer, eventlog_by_group, pinned_mb, stop_spark

    runner = Runner(wl)
    spark, setup = _start_session()
    sc = spark.sparkContext
    on = Tracer(sc, "traced", enabled=True)
    off = Tracer(sc, "plain", enabled=False)
    on.spans.append(
        {"id": -1, "name": "session.get_spark", "kind": "alone", "parent": None,
         "run_id": "traced", "start": 0.0, "end": setup}
    )
    wl.attach(spark)
    pinned = []

    def fused(tr, label):
        dt = runner.once(spark, tr, span_attrs={"kind": "fused", "label": label})
        pinned.append(pinned_mb(sc))
        return dt

    fused(on, "cold")
    fused(off, "warmup")
    plain, with_spans = [], []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(with_spans) < 2:
        plain.append(fused(off, "plain"))
        with_spans.append(fused(on, "traced"))
    counts = {}
    for _ in range(2):
        counts.update(wl.layers_alone(spark, on))
    runner.check_once(spark)
    stop_spark(spark)
    log = eventlog_by_group(os.path.join(work, "eventlog"))

    with open(os.path.join(work, "spans.json"), "w") as f:
        json.dump({"spans": on.spans, "eventlog": log, "pinned_mb": pinned}, f, indent=1)
    counts["trace.overhead_s"] = _median([x for x in with_spans if x]) - _median(
        [x for x in plain if x]
    )
    values = layer_metrics(wl, on.spans, log, counts, pinned)
    raw = {"fused_traced_s": with_spans, "fused_plain_s": plain, "pinned_mb": pinned}
    return runner, values, raw


def layer_metrics(wl, spans, log, counts, pinned) -> dict:
    """Every per-layer metric named in BENCHMARK.json; a layer the
    workload never calls reads 0.  A layer's time comes from its alone
    spans, or from its spans inside the traced fused runs when it is only
    ever called there."""
    runs = [s for s in spans if s["name"] == "run" and s.get("label") == "traced"]
    run_ids = {r["id"] for r in runs}

    def durations(name, field=None):
        alone = [s for s in spans if s["name"] == name and s["kind"] == "alone"]
        chosen = alone or [s for s in spans if s["name"] == name and s["parent"] in run_ids]
        if field is None:
            return [s["end"] - s["start"] for s in chosen]
        return [s.get(field, 0) for s in chosen]

    def per_run(fn):
        return _median([fn([c for c in spans if c["parent"] == r["id"]]) for r in runs])

    def ev(children, field):
        return sum(log.get(c["group"], {}).get(field, 0.0) for c in children)

    sink = [
        log.get(s["group"], {})
        for s in spans
        if s["name"] == "sinks.writers.write_samples_parquet" and s["kind"] == "alone"
    ]
    derived = {
        "trace.fused_run_s": _median([r["end"] - r["start"] for r in runs]),
        "run.jobs": per_run(lambda cs: sum(c.get("jobs", 0) for c in cs)),
        "run.tasks": per_run(lambda cs: sum(c.get("tasks", 0) for c in cs)),
        "run.failed_tasks": per_run(lambda cs: sum(c.get("failed_tasks", 0) for c in cs)),
        "run.executor_run_s": per_run(lambda cs: ev(cs, "executor_run_s")),
        "run.executor_cpu_s": per_run(lambda cs: ev(cs, "executor_cpu_s")),
        "run.gc_s": per_run(lambda cs: ev(cs, "gc_s")),
        "sources.edf.input_read_ratio": per_run(lambda cs: ev(cs, "input_bytes"))
        / wl.inp.input_bytes,
        "sinks.writers.shuffle_write_bytes": _median([m.get("shuffle_write_bytes", 0.0) for m in sink]),
        "sinks.writers.spill_bytes": _median([m.get("spill_bytes", 0.0) for m in sink]),
        "materialize.pinned_mb": pinned[-1] if pinned else 0.0,
    }
    values = {}
    for m in _spec()["per_layer"]:
        name = m["name"]
        if name in counts:
            values[name] = float(counts[name])
        elif name in derived:
            values[name] = float(derived[name])
        elif name.endswith("_s"):
            values[name] = _median(durations(name[:-2]))
        elif name.endswith("_jobs"):
            values[name] = _median(durations(name[:-5], "jobs"))
        elif name.endswith("_tasks"):
            values[name] = _median(durations(name[:-6], "tasks"))
        else:
            values[name] = 0.0
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true", help="damage one input")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    if not os.path.isfile(os.path.join(ROOT, "processor_edf_spark", "pipeline.py")):
        print("processor_edf_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work, bool(args.trace))

    wl = WORKLOADS[args.workload](work, args.seed, args.size)
    wl.generate()
    if args.corrupt:
        wl.corrupt()
    if args.trace:
        runner, values, raw = traced(wl, args.seconds, work)
    else:
        runner, values, raw = measure(wl, args.seconds)

    # inputs, outputs and the event log are large; spans.json stays
    for entry in os.scandir(work):
        if entry.is_dir():
            shutil.rmtree(entry.path, ignore_errors=True)

    spec = _spec()
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(json.dumps({"samples": raw, "errors": runner.errors[:5]}))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {
                    m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
