"""Per-layer attribution for traced runs.

Two sources, neither of which needs a change to the program:

* ``CallTimer`` wraps public functions of the pipeline's modules in place
  and records the wall-clock window of every call;
* ``fold_event_log`` reads Spark's JSON event log and sums job, task,
  executor-CPU, shuffle-write and GC figures per named time window.

Windows, not job groups, attribute Spark work: the pipeline submits most
of its jobs from its own thread pools, where a job group set by the
caller does not propagate.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

ETL_STAGES = ("extract", "transform", "load", "validate")


class CallTimer:
    def __init__(self) -> None:
        self.calls: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.last_result: dict[str, object] = {}
        self._restore: list[tuple[object, str, object]] = []

    def wrap(self, owner: object, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                out = orig(*args, **kwargs)
                self.last_result[name] = out
                return out
            finally:
                self.calls[name].append((t0, time.time()))

        setattr(owner, attr, timed)
        self._restore.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def total_s(self, name: str, since: float = 0.0, until: float = float("inf")) -> float:
        return sum(b - a for a, b in self.calls.get(name, ()) if since <= a < until)


def instrument_pipeline(timer: CallTimer) -> None:
    """Wrap the public entry points of each pipeline layer. Names are
    patched where the caller looks them up: ``pipeline`` binds its stage
    functions at import, the source readers are looked up on their own
    modules at call time."""
    from fitness_nutrition_data_pipeline_spark import pipeline
    from fitness_nutrition_data_pipeline_spark.sources import fitness, xlsx

    for stage in ETL_STAGES:
        timer.wrap(pipeline.FitnessWarehousePipeline, stage, f"stage.{stage}")
    timer.wrap(pipeline, "extract_all", "sources.extract")
    timer.wrap(fitness, "extract_fitbit", "sources.fitbit")
    timer.wrap(xlsx, "prewarm_rows_many", "sources.xlsx")
    timer.wrap(xlsx, "read_xlsx", "sources.xlsx")
    timer.wrap(pipeline, "resolve_users", "resolution.resolve")
    timer.wrap(pipeline, "build_dimensions", "plans.dimensions")
    timer.wrap(pipeline, "build_bridges", "plans.bridges")
    timer.wrap(pipeline, "build_facts", "plans.facts")
    timer.wrap(pipeline, "load_warehouse", "load.write")
    timer.wrap(pipeline, "validate_warehouse", "validation.validate")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Plain-JSON, single-file event log (Spark 4 otherwise defaults to a
    zstd-compressed rolling directory)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


FOLD_KEYS = ("jobs", "tasks", "task_cpu_s", "shuffle_write_bytes", "gc_s")


def fold_event_log(log_dir: str, windows: dict[str, list[tuple[float, float]]]) -> dict[str, dict[str, float]]:
    """Sum Spark figures per window name. A job belongs to the window
    holding its submission time, a task to the one holding its launch
    time (epoch seconds, the same clock as ``time.time()``)."""
    out = {name: dict.fromkeys(FOLD_KEYS, 0.0) for name in windows}
    flat = sorted(
        (a * 1000.0, b * 1000.0, name) for name, ws in windows.items() for a, b in ws
    )

    def owner(ms: float) -> str | None:
        for a, b, name in flat:
            if a <= ms <= b:
                return name
        return None

    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    name = owner(ev.get("Submission Time", 0))
                    if name:
                        out[name]["jobs"] += 1
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    name = owner(ev.get("Task Info", {}).get("Launch Time", 0))
                    if not name:
                        continue
                    m = ev.get("Task Metrics") or {}
                    o = out[name]
                    o["tasks"] += 1
                    o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    o["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
    return out
