"""Where one cold ETL run's CPU goes.

Generates the benchmark's inputs with ``perfbench/gen_fitness.py`` (in
a child process, so that none of its memory stays in this one), starts
a session, runs ``FitnessWarehousePipeline.run()`` once and splits the
CPU that the run's process tree used between the two readings taken
around ``run()`` into:

  jvm_compiler       live JIT compiler threads (C1/C2)
  jvm_gc             live garbage-collector threads
  jvm_tasks          live executor task threads (Spark tasks)
  jvm_other          every other live JVM thread
  jvm_exited         JVM threads that exited during the run unseen: the
                     process total minus its live threads and minus what
                     the sampler last saw of the threads that exited
  python_driver      this process (all its threads)
  python_workers     the JVM's live child processes: the PySpark daemon,
                     with the workers it forked and reaped
  jvm_commands       the JVM's reaped children: short-lived commands it
                     ran (a daemon that exits would land here too)
  xlsx_pool          this process's other children, live or reaped: the
                     xlsx parse child and its fork pool

Every figure is utime + stime from ``/proc/<pid>/stat`` and
``/proc/<pid>/task/<tid>/stat`` of the run's own processes. ``tree`` is
the same tree read as perfbench's ``procmon`` reads it, and ``accounted``
is the share of it the categories cover.

JVM threads come and go during the run: HotSpot retires idle compiler
threads, and py4j connection threads and Spark's pools plan and compile
for the driver's pooled calls and then exit. A sampler reads the JVM's
threads every ~100 ms while ``run()`` runs, and a thread that exits is
counted in the category of the name it last had, with the CPU it had
used when it was last seen; only what no sample saw is ``jvm_exited``.

The JSON line also carries the driver's resident memory right after the
session started (``driver_rss_floor_mb``) and its high-water mark at the
end of the run (``driver_peak_rss_mb``).

Usage: python tools/cpu_breakdown.py [--seed N] [--work DIR]
Prints one line per category, then the figures as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_HZ = os.sysconf("SC_CLK_TCK")

CATEGORIES = (
    "jvm_compiler", "jvm_gc", "jvm_tasks", "jvm_other", "jvm_exited",
    "python_driver", "python_workers", "jvm_commands", "xlsx_pool",
)


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields from the state on) of one stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _ticks(fields: list[str], with_children: bool = False) -> int:
    # stat(5) fields 14-17: utime stime cutime cstime (index 0 = field 3)
    return sum(int(x) for x in fields[11 : 15 if with_children else 13])


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(f"/proc/{name}/stat")
            if st is not None:
                out.setdefault(int(st[1][1]), []).append(int(name))
    return out


def _descendants(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _thread_kind(name: str) -> str:
    if "CompilerThre" in name or name.startswith(("C1 ", "C2 ")):
        return "jvm_compiler"
    if name.startswith(("GC ", "G1 ")):
        return "jvm_gc"
    if name.startswith("Executor task"):
        return "jvm_tasks"
    return "jvm_other"


def _threads(jvm: int) -> dict[int, tuple[str, int]]:
    """tid → (name, CPU ticks) of the JVM's live threads."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        st = _stat(f"/proc/{jvm}/task/{tid}/stat")
        if st is not None:
            out[int(tid)] = (st[0], _ticks(st[1]))
    return out


class ThreadSampler:
    """Reads the JVM's threads every ``interval_s`` until stopped and
    keeps each thread's last reading, so that the CPU of a thread that
    exits before the closing snapshot keeps its name."""

    def __init__(self, jvm: int, interval_s: float = 0.1):
        self.jvm = jvm
        self.interval_s = interval_s
        self.seen: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.seen.update(_threads(self.jvm))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "ThreadSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _rss_mb(field: str) -> float:
    """A ``/proc/self/status`` memory field (VmRSS, VmHWM) in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def snapshot(jvm: int) -> dict:
    """Raw tick counters of the run's processes at one instant."""
    me = os.getpid()
    children = _children()
    driver = _stat(f"/proc/{me}/stat")[1]
    jvm_proc = _stat(f"/proc/{jvm}/stat")[1]
    threads = _threads(jvm)
    workers = {}
    for pid in _descendants(jvm, children):
        st = _stat(f"/proc/{pid}/stat")
        if st is not None:
            workers[pid] = _ticks(st[1], with_children=True)
    pool = {}  # this process's live children other than the JVM
    for pid in children.get(me, ()):
        if pid != jvm and pid not in workers:
            for p in [pid, *_descendants(pid, children)]:
                st = _stat(f"/proc/{p}/stat")
                if st is not None:
                    pool[p] = _ticks(st[1], with_children=True)
    tree = 0
    for pid in [me, *_descendants(me, children)]:
        st = _stat(f"/proc/{pid}/stat")
        if st is not None:
            tree += _ticks(st[1], with_children=True)
    return {
        "driver": _ticks(driver),
        "driver_reaped": _ticks(driver, with_children=True) - _ticks(driver),
        "jvm": _ticks(jvm_proc),
        "jvm_reaped": _ticks(jvm_proc, with_children=True) - _ticks(jvm_proc),
        "threads": threads,
        "workers": workers,
        "pool": pool,
        "tree": tree,
    }


def breakdown(before: dict, after: dict, seen: dict[int, tuple[str, int]]) -> dict[str, float]:
    """Seconds per category between two snapshots; ``seen`` holds the
    sampler's last reading of every JVM thread it saw in between."""
    out = dict.fromkeys(CATEGORIES, 0)
    exited = {tid: s for tid, s in seen.items() if tid not in after["threads"]}
    named = 0
    for tid, (name, ticks) in {**exited, **after["threads"]}.items():
        start = before["threads"].get(tid, (name, 0))[1]
        out[_thread_kind(name)] += ticks - start
        named += ticks - start
    out["jvm_exited"] = after["jvm"] - before["jvm"] - named
    out["python_driver"] = after["driver"] - before["driver"]
    out["python_workers"] = sum(
        t - before["workers"].get(pid, 0) for pid, t in after["workers"].items()
    )
    out["jvm_commands"] = after["jvm_reaped"] - before["jvm_reaped"]
    out["xlsx_pool"] = after["driver_reaped"] - before["driver_reaped"] + sum(
        t - before["pool"].get(pid, 0) for pid, t in after["pool"].items()
    )
    secs = {k: round(v / _HZ, 2) for k, v in out.items()}
    tree = (after["tree"] - before["tree"]) / _HZ
    secs["tree"] = round(tree, 2)
    secs["accounted"] = round(sum(out.values()) / _HZ / tree, 3) if tree else 0.0
    return secs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--work", default=None, help="scratch directory (default: a new temp dir)")
    args = ap.parse_args(argv)

    from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
    from fitness_nutrition_data_pipeline_spark.pipeline import FitnessWarehousePipeline
    from fitness_nutrition_data_pipeline_spark.session import get_spark

    work = args.work or tempfile.mkdtemp(prefix="cpu_breakdown_")
    try:
        data_dir = os.path.join(work, "inputs")
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "gen_fitness.py"),
             data_dir, "--seed", str(args.seed)],
            check=True, stdout=subprocess.DEVNULL,
        )
        spark = get_spark("cpu_breakdown")
        rss_floor_mb = _rss_mb("VmRSS")
        jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        cfg = PipelineConfig(
            data_dir=data_dir,
            fitbit_dir=os.path.join(data_dir, "fitbit"),
            warehouse_dir=os.path.join(work, "warehouse"),
            output_dir=os.path.join(work, "report"),
        )
        before = snapshot(jvm)
        with ThreadSampler(jvm) as sampler:
            report = FitnessWarehousePipeline(spark, cfg).run()
        after = snapshot(jvm)
        secs = breakdown(before, after, sampler.seen)
        secs["driver_rss_floor_mb"] = round(rss_floor_mb, 1)
        secs["driver_peak_rss_mb"] = round(_rss_mb("VmHWM"), 1)
        spark.stop()
    finally:
        if args.work is None:
            shutil.rmtree(work, ignore_errors=True)
    for k in (*CATEGORIES, "tree"):
        print(f"{k:16s}{secs[k]:9.2f} s")
    print(f"{'accounted':16s}{secs['accounted']:9.1%}")
    for k in ("driver_rss_floor_mb", "driver_peak_rss_mb"):
        print(f"{k:20s}{secs[k]:7.1f} MB")
    secs["quality_score"] = report["validation"]["quality_score"]
    print(json.dumps(secs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
