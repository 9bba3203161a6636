"""MEDS engine benchmark: one workload, seeded inputs, warm then timed.

    python3 perfbench/run.py --workload {extract,preprocess,curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Steps:

1. generate the workload's inputs in a separate numpy/pyarrow process
   (``gen.py``), cached under ``.perfbench/inputs`` by (workload, seed,
   size, generator digest), and compute the DuckDB reference result for
   them (``checks.py``); neither is part of ``setup_s``;
2. start Spark as ``local[nproc]`` (shuffle partitions = nproc, AQE on,
   driver memory pinned), register the inputs and run the workload
   ``WARMUP_ITERS`` times; all of this is ``setup_s``;
3. run the workload until ``--seconds`` of iteration time have passed
   (at least ``MIN_TIMED`` times), checking every iteration's output
   against the DuckDB reference; ``wall_s`` is the median iteration;
4. with ``--trace 1``, the Spark event log is on for the whole run, and
   one extra traced iteration records spans and job groups; the per-layer
   metrics are parsed from both.

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it is the full report (env
block, per-iteration times, spans), also written to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from workloads import PREPROCESS_STAGES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: A cold first iteration costs 3-5x a warm one, and the warm ones still
#: speed up for several more rounds (JIT). Measured on 4 cores (seed 1):
#: extract 14.3, 5.05, 4.22, then 3.7-4.7 s; preprocess 12.1, 4.57, then
#: 2.9-3.6 s; curation 12.6, 2.90, 2.76, 2.44, then 1.9-2.3 s. Three set-up
#: iterations, the cold one included, are past the steepest part of that
#: drift and keep a run near 40 s (inputs and reference included), which
#: is what the run budget allows. The timed loop then runs for
#: ``--seconds``, at least ``MIN_TIMED`` times.
WARMUP_ITERS = 3
MIN_TIMED = 2
#: The inputs are a few MB. The heap is small and starts at its maximum
#: size, so the JVM's resident size does not follow G1's heap-sizing
#: decisions, which vary run to run (extract peak_rss_mb over seeds 1-4:
#: 999-1290 MB with a growing heap, 1477-1489 MB with a fixed one).
DRIVER_MEMORY = "1g"
#: JVM options the benchmark adds to the engine's defaults (recorded in env).
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData"

END_TO_END = {
    "wall_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.warmup_drift": "ratio",
    "session.first_timed_s": "s",
    "sources.readers.s": "s",
    "sources.readers.input_mb": "MB",
    "sources.readers.rows": "count",
    "operators.extract_events.s": "s",
    "operators.merge_sort.s": "s",
    "operators.merge_sort.shuffle_mb": "MB",
    "operators.split_patients.s": "s",
    "operators.split_patients.driver_rows": "count",
    "sources.writers.write_parquet_s": "s",
    "sources.writers.write_nrt_s": "s",
    "sources.writers.files_out": "count",
    "sources.writers.mb_out": "MB",
    **{f"stage.{s}.{m}": u for s in PREPROCESS_STAGES for m, u in (("s", "s"), ("rows_out", "count"), ("shuffle_mb", "MB"))},
    "plans.pipeline.overhead_s": "s",
    "plans.pipeline.jobs": "count",
    "plans.pipeline.ckpt_gap_s": "s",
    "operators.text.quality_filter_s": "s",
    "operators.text.kept_ratio": "ratio",
    "operators.text.docs_in": "count",
    "operators.dedup.span_dedup_s": "s",
    "operators.dedup.spans_removed_ratio": "ratio",
    "operators.dedup.spans_in": "count",
    "operators.packing.temperature_mixture_s": "s",
    "python.worker_cpu_s": "s",
    "python.to_worker_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.idle_core_s": "s",
    "spark.single_task_stage_s": "s",
    "plan.exchange": "count",
    "plan.broadcast_exchange": "count",
    "plan.arrow_eval_python": "count",
    "plan.in_memory_scan": "count",
    "trace.gap_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _prepare_env(cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside .perfbench."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # spark-submit's launcher JVM, which computes the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # glibc's per-thread malloc arenas make native resident size vary by
    # hundreds of MB between runs of the same JVM
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # Python workers import the engine's modules when unpickling UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    sys.path[:0] = [ROOT, HERE]


def ensure_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs in a separate process. The cache key
    holds a digest of gen.py, so a changed generator never reuses inputs
    the old one wrote."""
    import gen

    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        code = hashlib.sha256(f.read()).hexdigest()[:12]
    size = "-".join(f"{k}{v}" for k, v in sorted(gen.SIZES[workload].items()))
    path = os.path.join(WORK, "inputs", f"{workload}-s{seed}-{size}-{code}")
    if not os.path.exists(os.path.join(path, "manifest.json")):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--out", path],
            check=True, stdout=subprocess.DEVNULL,
        )
    with open(os.path.join(path, "manifest.json")) as f:
        return path, json.load(f)


def start_session(cores: int, event_log_dir: str | None):
    from meds_polars_functions_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"{DRIVER_JAVA_OPTIONS} -Djava.io.tmpdir={tmp}",
        # AQE merges shuffle partitions under 1 MB by default; the inputs here
        # shuffle a few MB, so partition counts would flip with the seed.
        # Scaled down with the inputs, every shuffle keeps nproc partitions,
        # as it does at the sizes the default is set for.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)


def _env(spark, cores: int, seed: int, manifest: dict) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    cpu_model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu_model = line.split(":", 1)[1].strip()
                break
    return {
        "nproc": cores,
        "cpu_model": cpu_model,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "java_version": jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "driver_java_options": DRIVER_JAVA_OPTIONS,
        "seed": seed,
        "input": {k: manifest[k] for k in ("size", "rows", "files", "bytes", "sha256")},
    }


class Run:
    """One benchmark run of one workload."""

    def __init__(self, args):
        import checks
        import workloads

        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.loadavg_start = os.getloadavg()
        self.input_dir, self.manifest = ensure_inputs(args.workload, args.seed)
        # the DuckDB reference is computed afresh every run, before Spark
        # starts, so it always reflects the current checks and configs
        t = time.perf_counter()
        self.expected = checks.expected(args.workload, self.input_dir)
        self.reference_s = time.perf_counter() - t
        self.wl = workloads.WORKLOADS[args.workload](self.input_dir, self.manifest)
        self.out_root = os.path.join(WORK, "out", args.workload)
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.event_log_dir = os.path.join(WORK, "eventlog") if args.trace else None
        if self.event_log_dir:
            shutil.rmtree(self.event_log_dir, ignore_errors=True)

    def _tag(self, group: str) -> None:
        if self.args.trace:
            self.spark.sparkContext.setJobGroup(group, group)

    def _iteration(self, label: str) -> tuple[float, dict]:
        from tracing import NullTracer

        out = os.path.join(self.out_root, label)
        self._tag(label)
        start_ms = time.time() * 1e3
        t = time.perf_counter()
        result = self.wl.iterate(self.spark, out, NullTracer())
        dt = time.perf_counter() - t
        self.windows[label] = (start_ms, time.time() * 1e3)
        return dt, result

    def setup(self) -> None:
        from tracing import NullTracer, Tracer

        self.windows: dict[str, tuple[float, float]] = {}
        t0 = time.perf_counter()
        self.spark = start_session(self.cores, self.event_log_dir)
        self.start_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        t = time.perf_counter()
        self.register_tracer = Tracer(self.spark, "register") if self.args.trace else None
        self.wl.register(self.spark, self.register_tracer or NullTracer())
        self.register_s = time.perf_counter() - t
        self.warm_times = []
        for i in range(WARMUP_ITERS):
            dt, _ = self._iteration(f"warm{i}")
            self.warm_times.append(dt)
            shutil.rmtree(os.path.join(self.out_root, f"warm{i}"), ignore_errors=True)
        self.setup_s = self.start_s + self.register_s + sum(self.warm_times)

    def timed(self) -> None:
        import checks
        import proc

        self.times: list[float] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        workers = proc.descendants(self.jvm_pid)
        proc.reset_peak([self.jvm_pid, *workers])
        cpu0, read0 = proc.cpu_and_read(workers)
        spent = 0.0
        while spent < self.args.seconds or self.attempted < MIN_TIMED:
            label = f"iter{self.attempted}"
            self.attempted += 1
            t = time.perf_counter()
            try:
                dt, result = self._iteration(label)
                checks.check(self.args.workload, result, self.expected)
                self.times.append(dt)
                self.last_ok = (label, dt)
            except Exception as e:  # a failed operation is counted, not fatal
                self.failed += 1
                self.errors.append(f"{label}: {type(e).__name__}: {e}"[:2000])
                traceback.print_exc(file=sys.stderr)
                dt = time.perf_counter() - t
            spent += dt
            shutil.rmtree(os.path.join(self.out_root, label), ignore_errors=True)
        workers = proc.descendants(self.jvm_pid)
        self.peak_rss_mb = proc.peak_rss_mb([self.jvm_pid, *workers])
        cpu1, read1 = proc.cpu_and_read(workers)
        n = max(self.attempted, 1)
        self.python_cpu_s = (cpu1 - cpu0) / n
        self.python_read_mb = (read1 - read0) / 1e6 / n

    def traced(self) -> dict:
        """One traced iteration, then the event log of the whole run."""
        import checks
        from tracing import Tracer, read_event_log

        tracer = Tracer(self.spark, "traced")
        out = os.path.join(self.out_root, "traced")
        start_ms = time.time() * 1e3
        t = time.perf_counter()
        result, counts = self.wl.traced(self.spark, out, tracer)
        traced_s = time.perf_counter() - t
        self.windows["traced"] = (start_ms, time.time() * 1e3)
        self.attempted += 1
        try:
            checks.check(self.args.workload, result, self.expected)
        except checks.Mismatch as e:
            self.failed += 1
            self.errors.append(f"traced: {e}"[:2000])
        shutil.rmtree(out, ignore_errors=True)
        self.spark.stop()
        self.spark = None
        log_ = read_event_log(self.event_log_dir)
        return self._layers(tracer, counts, traced_s, log_)

    def _layers(self, tracer, counts: dict, traced_s: float, ev) -> dict:
        wall = statistics.median(self.times)
        spans = [*(self.register_tracer.spans if self.register_tracer else []), *tracer.spans]
        self.spans = [s.as_dict(spans[0].start if spans else 0.0) for s in spans]

        def span_s(name: str) -> float:
            return sum(s.self_s for s in spans if s.name == name)

        def group_metrics(prefix: str) -> dict:
            return ev.metrics(lambda g: g.startswith(prefix), wall, self.cores, self.windows["traced"])

        m = {k: 0.0 for k in PER_LAYER}
        m["session.start_s"] = self.start_s
        m["session.warmup_s"] = sum(self.warm_times)
        m["session.first_timed_s"] = self.times[0]
        m["session.warmup_drift"] = self.warm_times[-1] / self.times[0]
        traced_all = group_metrics("traced/")
        m["sources.readers.s"] = span_s("sources.readers")
        m["sources.readers.input_mb"] = traced_all["input_mb"]
        m["sources.readers.rows"] = traced_all["input_rows"]
        m["operators.extract_events.s"] = span_s("operators.extract_events")
        m["operators.merge_sort.s"] = span_s("operators.merge_sort")
        if any(s.name == "operators.merge_sort" for s in spans):
            m["operators.merge_sort.shuffle_mb"] = group_metrics("traced/operators.merge_sort")[
                "spark.shuffle_write_mb"
            ]
        m["operators.split_patients.s"] = span_s("operators.split_patients")
        m["sources.writers.write_parquet_s"] = span_s("sources.writers.write_parquet")
        m["sources.writers.write_nrt_s"] = span_s("sources.writers.write_nrt")
        for st in PREPROCESS_STAGES:
            name = f"stage.{st}"
            if any(s.name == name for s in spans):
                # a stage's own work: its span plus the spans it opened
                m[f"{name}.s"] = sum(s.duration for s in spans if s.name == name)
                m[f"{name}.shuffle_mb"] = group_metrics(f"traced/{name}")["spark.shuffle_write_mb"]
        if any(s.name == "plans.pipeline" for s in tracer.spans):
            m["plans.pipeline.jobs"] = traced_all["spark.jobs"]
            # the traced pipeline checkpoints every stage; the timed one is lazy
            m["plans.pipeline.ckpt_gap_s"] = traced_s - wall
        m["operators.text.quality_filter_s"] = span_s("operators.text.quality_filter")
        m["operators.dedup.span_dedup_s"] = span_s("operators.dedup.span_dedup")
        m["operators.packing.temperature_mixture_s"] = span_s("operators.packing.temperature_mixture")
        m.update(counts)
        m["python.worker_cpu_s"] = self.python_cpu_s
        m["python.to_worker_mb"] = self.python_read_mb
        # engine counts of the last timed (untraced) iteration
        last_label, last_s = self.last_ok
        last = ev.metrics(lambda g: g == last_label, last_s, self.cores, self.windows[last_label])
        for k in PER_LAYER:
            if k.startswith(("spark.", "plan.")):
                m[k] = last[k]
        m["trace.gap_s"] = traced_s - wall
        self.costliest_stage = (
            max(PREPROCESS_STAGES, key=lambda st: m[f"stage.{st}.s"]) if self.args.workload == "preprocess" else None
        )
        return m

    def close(self) -> None:
        from pyspark import SparkContext

        if getattr(self, "spark", None) is not None:
            self.spark.stop()
            self.spark = None
        # the JVM exits when its stdin closes, and stops its Python workers
        # as it does; wait for it
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["extract", "preprocess", "curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    for need in ("meds_polars_functions_spark", "__spark_entry__.py", "scripts"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: run from a checkout of the repository")
            return 2

    cores = len(os.sched_getaffinity(0))
    _prepare_env(cores)
    run = Run(args)
    try:
        run.setup()
        env = _env(run.spark, cores, args.seed, run.manifest)
        run.timed()
        if not run.times:
            log(f"every timed iteration failed: {run.errors[:3]}")
            return 1
        layers = run.traced() if args.trace else None
    finally:
        run.close()

    wall = statistics.median(run.times)
    values = {
        "wall_s": wall,
        "rows_per_s": run.wl.input_rows / wall,
        "peak_rss_mb": run.peak_rss_mb,
        "setup_s": run.setup_s,
    }
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    env["loadavg_start"] = run.loadavg_start
    env["loadavg_end"] = os.getloadavg()
    report = {
        "workload": args.workload,
        "env": env,
        "end_to_end": {f"{args.workload}/{k}": {"value": v, "unit": END_TO_END[k]} for k, v in values.items()},
        "setup": {"start_s": run.start_s, "register_s": run.register_s, "warmup_s": run.warm_times},
        "reference_s": run.reference_s,
        "iterations_s": run.times,
        "errors": run.errors,
    }
    if args.trace:
        report["per_layer"] = {f"{args.workload}/{k}": v for k, v in layers.items()}
        report["costliest_stage"] = run.costliest_stage
        report["spans"] = run.spans
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
