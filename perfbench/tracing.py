"""Tracing for the traced benchmark run, recorded from outside the engine.

Two sources:

- ``CallTimer`` wraps every public module-level function of the traced
  engine modules and sums wall time per (pass, span, function).
  Wrappers carry ``functools.wraps`` metadata and replace the module
  attribute, so cloudpickle still ships those functions to executors by
  reference and the executors run the unwrapped originals: only driver-side
  calls are timed.
- ``span_rollup`` reads Spark's own event log (``spark.eventLog.enabled``,
  set by ``Run.start_spark``) and sums stage metrics per job
  description, which the harness sets to ``<span>#<pass>``.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import time
from collections import defaultdict

TRACED_MODULES = (
    "engine.jobs.encode",
    "engine.jobs.decode",
    "engine.ops.dedup",
    "engine.parquet_out",
    "engine.parquet_compat",
    "engine.selector",
    "engine.chunk",
    "engine.compression",
    "engine.levels",
)


def traced_module_names() -> list[str]:
    import engine.codecs

    codecs = [
        f"engine.codecs.{m.name}"
        for m in pkgutil.iter_modules(engine.codecs.__path__)
    ]
    return [*TRACED_MODULES, *codecs]


class CallTimer:
    """Driver-side call timer. ``span`` and ``pass_no`` are set by the
    harness around each timed operation; calls outside a span are not
    recorded."""

    def __init__(self):
        self.span: str | None = None
        self.pass_no = 0
        # (pass_no, span, "module.function") -> seconds
        self.records: dict[tuple, float] = defaultdict(float)
        self._originals: list[tuple] = []

    def install(self) -> None:
        for mod_name in traced_module_names():
            mod = importlib.import_module(mod_name)
            short = mod_name.removeprefix("engine.").removeprefix("jobs.").removeprefix("ops.")
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod_name
                ):
                    continue
                self._originals.append((mod, name, fn))
                setattr(mod, name, self._wrap(f"{short}.{name}", fn))

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._originals):
            setattr(mod, name, fn)
        self._originals.clear()

    def _wrap(self, key: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if self.span is None:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.records[(self.pass_no, self.span, key)] += time.perf_counter() - t0

        return timed

    def per_pass_ms(self, span: str, key: str) -> list[float]:
        """Milliseconds spent in ``key`` during ``span``, one value per pass
        that ran the span (0 for a pass that ran it without calling key)."""
        passes = sorted({p for (p, s, _k) in self.records if s == span})
        return [1e3 * self.records.get((p, span, key), 0.0) for p in passes]


# -- Spark event log ---------------------------------------------------------

_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
}
SPAN_FIELDS = ("stages", "tasks", *_STAGE_ACCUMS.values())


def read_event_log(log_dir: str):
    """Yield the events of every application log under ``log_dir``. Spark
    4.1 writes a directory per application holding zstd-compressed
    ``events_*`` files; pyarrow reads them without another package."""
    import pyarrow as pa

    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        compression = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=compression) as stream:
            text = stream.read().decode("utf-8")
        for line in text.splitlines():
            if line:
                yield json.loads(line)


def span_rollup(events) -> dict[str, dict[str, float]]:
    """Sum completed-stage metrics per job description.

    Returns {description: {stages, tasks, executor_run_ms, ...}}. A stage
    is attributed to the description of the job that submitted it; stages
    of jobs without a description are dropped."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            if desc:
                for sid in e.get("Stage IDs", []):
                    stage_desc[sid] = desc
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            desc = stage_desc.get(info["Stage ID"])
            if desc is None:
                continue
            agg = out.setdefault(desc, dict.fromkeys(SPAN_FIELDS, 0.0))
            agg["stages"] += 1
            agg["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                field = _STAGE_ACCUMS.get(acc.get("Name"))
                if field is not None:
                    agg[field] += float(acc.get("Value", 0) or 0)
    return out
