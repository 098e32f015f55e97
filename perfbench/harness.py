"""One benchmark run: set-up, timed passes, output checks and metrics.

Run rules (see README.md):

- the seed comes from the command line; workloads derive every input from
  it and hand the engine only the generated inputs;
- Spark start-up, input generation and a warm-up pass over a small input
  from a different seed all count in ``setup_s``;
- every timed pass starts with Spark's cache cleared, so no pass finds its
  input's plan cached;
- a phase timed more than once reports its median, never its minimum.
"""

from __future__ import annotations

import gc
import os
import resource
import shlex
import statistics
import subprocess
import sys
import time
from collections import defaultdict

from . import kernels, tracing

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "write_per_s": "1/s",
    "read_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}

# spans the harness times and rolls Spark's event log up for
SPANS = ("encode", "decode", "table_encode", "table_decode", "near_dup", "near_dup_verify")
SPAN_UNITS = {
    "wall_ms": "ms",
    "stages": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "python_ms": "ms",
    "arrow_bytes_to_python": "B",
    "arrow_bytes_from_python": "B",
}
TOKEN_CODECS = ("plain", "dict", "delta", "bitpack", "rle")

# metrics a workload records for its own operations; the throughputs come
# from the untraced passes of a traced run
OP_UNITS = {
    "encode_tokens_per_s": "1/s",
    "decode_tokens_per_s": "1/s",
    "bytes_per_token": "B",
    "table_encode_rows_per_s": "1/s",
    "table_decode_rows_per_s": "1/s",
    "table_bytes_per_row": "B",
    "pq_write_mb_per_s": "MB/s",
    "pq_scan_mb_per_s": "MB/s",
    "pq_nested_values_per_s": "1/s",
    "pq_lookup_p50_ms": "ms",
    "pq_lookup_p95_ms": "ms",
    "pq_file_bytes_per_raw_byte": "ratio",
    "near_dup_docs_per_s": "1/s",
    "encode.chunks": "count",
    **{f"encode.codec_mix.{c}": "count" for c in TOKEN_CODECS},
    "parquet_out.write_table_ms": "ms",
    "parquet_compat.read_table_ms": "ms",
    "parquet_compat.read_file_info_ms": "ms",
    "parquet_compat.read_page_index_ms": "ms",
    "parquet_compat.pages_read_frac": "ratio",
    "parquet_compat.read_column_with_levels_ms": "ms",
    "parquet_compat.assemble_repeated_ms": "ms",
}

PER_LAYER_UNITS = {
    **{f"plan.{s}_ms": "ms" for s in SPANS},
    **{f"{s}.{f}": u for s in SPANS for f, u in SPAN_UNITS.items()},
    **OP_UNITS,
    **kernels.UNITS,
    "session.persistent_rdds": "count",
    "failed_frac": "ratio",
    "trace.untraced_pass_s": "s",
    "trace.traced_pass_s": "s",
    "trace.overhead_frac": "ratio",
}


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """State of one run: the Spark session, the checks, and every timing.

    Workloads call ``op`` around each engine call they time, ``check`` once
    per operation with whether its output was right, and ``record`` for
    per-pass values of their own metrics."""

    def __init__(self, workdir: str, trace: bool):
        self.workdir = workdir
        self.trace = trace
        self.spark = None
        self.cpus = cpu_count()
        self.attempted = 0
        self.failed = 0
        self.timer = tracing.CallTimer() if trace else None
        self.traced = False  # the current pass is traced
        self.pass_no = 0
        self._pass_ops: dict[str, float] = defaultdict(float)
        self.samples: dict[tuple[bool, str], list[float]] = defaultdict(list)
        self.plan_ms: dict[str, list[float]] = defaultdict(list)
        self.span_wall_ms: dict[str, list[float]] = defaultdict(list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    # -- Spark lifecycle -----------------------------------------------------

    def start_spark(self) -> None:
        """Start ``local[<cores>]`` through the engine's session factory.
        Temporary files, shuffle files and (traced runs only) the event log
        stay under the run's work directory."""
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        args = [
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        ]
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            args += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{self.path('eventlog')}",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        from engine.session import get_spark, ship_package

        self.spark = get_spark(
            app="perfbench", master=f"local[{self.cpus}]",
            shuffle_partitions=2 * self.cpus,
        )
        ship_package(self.spark)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit (its
        Python workers exit with it)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def persistent_rdds(self) -> int:
        if self.spark is None:
            return 0
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    # -- operations ----------------------------------------------------------

    def op(self, span: str, action, df=None):
        """Time one engine operation -> (result, seconds). In a traced pass,
        also time the planning of ``df`` (``executedPlan()``) before the
        action, tag its Spark jobs ``<span>#<pass>`` and scope the call
        timer to ``span``."""
        traced = self.traced
        sc = self.spark.sparkContext if self.spark is not None else None
        if traced:
            if df is not None:
                t0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                self.plan_ms[span].append(1e3 * (time.perf_counter() - t0))
            if sc is not None:
                sc.setJobDescription(f"{span}#{self.pass_no}")
            self.timer.span, self.timer.pass_no = span, self.pass_no
        t0 = time.perf_counter()
        try:
            out = action()
        finally:
            dt = time.perf_counter() - t0
            if traced:
                self.timer.span = None
                if sc is not None:
                    sc.setJobDescription(None)
        self._pass_ops[span] += dt
        if traced:
            self.span_wall_ms[span].append(1e3 * dt)
        return out, dt

    def check(self, ok: bool, what: str) -> None:
        """Count one operation; it failed unless its output check held."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr, flush=True)

    def record(self, name: str, value: float) -> None:
        self.samples[(self.traced, name)].append(float(value))

    # -- passes --------------------------------------------------------------

    def run_pass(self, workload) -> dict[str, float]:
        if self.spark is not None:
            self.spark.catalog.clearCache()
        self._pass_ops = defaultdict(float)
        workload.run_pass()
        ops = dict(self._pass_ops)
        self.pass_no += 1
        # free the pass's outputs now, so the next pass's peak memory does
        # not depend on when the collector last ran
        gc.collect()
        return ops

    def measure(self, workload, seconds: float) -> list[dict]:
        """Timed passes until ``seconds`` have passed. A traced run
        alternates untraced and traced passes (at least two of each), so
        it can report its own tracing overhead."""
        passes = []
        min_passes = 4 if self.trace else 1
        deadline = time.perf_counter() + seconds
        while len(passes) < min_passes or time.perf_counter() < deadline:
            self.traced = self.trace and len(passes) % 2 == 1
            ops = self.run_pass(workload)
            passes.append({"traced": self.traced, "ops": ops})
            timings = " ".join(f"{k}={v:.3f}s" for k, v in ops.items() if k != "pq_lookup")
            print(f"perfbench: pass {len(passes) - 1}{' traced' if self.traced else ''}: "
                  f"{timings}", file=sys.stderr, flush=True)
        self.traced = False
        return passes


def _pass_metrics(workload, passes) -> dict[str, float]:
    totals = [sum(p["ops"].values()) for p in passes]
    write = [p["ops"][workload.write_span] for p in passes]
    read = [p["ops"][workload.read_span] for p in passes]
    return {
        "pass_s": median(totals),
        "write_per_s": median([workload.write_units / t for t in write]),
        "read_per_s": median([workload.read_units / t for t in read]),
    }


def _layer_metrics(run: Run, workload, passes, kernel_metrics,
                   persistent_rdds: int) -> dict[str, float]:
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    out.update(kernel_metrics)
    # the first pass is untraced and slower than the rest, so the overhead
    # compares later passes only
    plain = [p for p in passes[1:] if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    t_plain = median([sum(p["ops"].values()) for p in plain])
    t_traced = median([sum(p["ops"].values()) for p in traced])
    out["trace.untraced_pass_s"] = t_plain
    out["trace.traced_pass_s"] = t_traced
    out["trace.overhead_frac"] = t_traced / t_plain - 1.0 if t_plain else 0.0
    for span in SPANS:
        out[f"plan.{span}_ms"] = median(run.plan_ms[span])
        out[f"{span}.wall_ms"] = median(run.span_wall_ms[span])
    if run.trace and os.path.isdir(run.path("eventlog")):
        rollup = tracing.span_rollup(tracing.read_event_log(run.path("eventlog")))
        for span in SPANS:
            per_pass = [v for k, v in rollup.items() if k.split("#")[0] == span]
            for field in tracing.SPAN_FIELDS:
                out[f"{span}.{field}"] = median([d[field] for d in per_pass])
    for name in OP_UNITS:
        values = run.samples[(False, name)] or run.samples[(True, name)]
        out[name] = median(values)
    for key, value in workload.timer_metrics(run.timer).items():
        out[key] = value
    out["session.persistent_rdds"] = float(persistent_rdds)
    out["failed_frac"] = run.failed / run.attempted if run.attempted else 0.0
    return out


def run_workload(workload_cls, seed: int, seconds: float, trace: bool,
                 workdir: str, scale: float = 1.0) -> dict:
    """Run one workload end to end and return the result object the
    command prints."""
    run = Run(workdir, trace)
    try:
        t0 = time.perf_counter()
        if workload_cls.uses_spark:
            run.start_spark()
        t1 = time.perf_counter()
        workload = workload_cls.for_run(run, seed, scale)
        workload.setup()
        t2 = time.perf_counter()
        workload.warm_up()
        t3 = time.perf_counter()
        setup_s = t3 - t0
        print(f"perfbench: setup: spark={t1 - t0:.3f}s input={t2 - t1:.3f}s "
              f"warm-up={t3 - t2:.3f}s", file=sys.stderr, flush=True)
        run.samples.clear()

        kernel_metrics = {}
        if trace:
            kernel_metrics = kernels.kernel_table(run)
            run.timer.install()
        try:
            passes = run.measure(workload, seconds)
        finally:
            if trace:
                run.timer.uninstall()
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        if trace:
            persistent = run.persistent_rdds()
            run.stop_spark()  # flushes and closes the event log
            metrics = _layer_metrics(run, workload, passes, kernel_metrics, persistent)
            units = PER_LAYER_UNITS
        else:
            metrics = {
                "setup_s": setup_s,
                "driver_peak_rss_mb": rss_mb,
                **_pass_metrics(workload, passes),
            }
            units = E2E_UNITS
    finally:
        run.stop_spark()
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
