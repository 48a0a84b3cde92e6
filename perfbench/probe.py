"""Measurement helpers: spans, process-tree RSS, Spark event log, canaries.

Nothing here changes what the program does. Spans wrap public calls from
the benchmark's side; stage attribution reads the event log Spark writes
when ``spark.eventLog.enabled`` is on, keyed by the ``callSite.short``
labels the program already sets (``barrier:*``, ``sink:*``).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Spans:
    """In-memory spans: (name, start, end) in epoch seconds, any thread."""

    def __init__(self) -> None:
        self.items: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            with self._lock:
                self.items.append((name, t0, time.time()))

    def wrap(self, fn, name_of):
        """``fn`` with a span around each call, named ``name_of(*args)``."""
        def wrapped(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)
        return wrapped

    def of(self, prefix: str) -> list[tuple[str, float, float]]:
        return [s for s in self.items if s[0].startswith(prefix)]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                 if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in cut:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_time(parent: tuple[str, float, float], children) -> float:
    """Parent duration minus the part its children's intervals cover."""
    _, lo, hi = parent
    return (hi - lo) - covered([(a, b) for _, a, b in children], lo, hi)


class TreeRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc in a thread."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(stat.split("/")[2])
            children.setdefault(int(fields[1]), []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, self.sample())
            if self._stop.wait(self._interval):
                return


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat: the
    steal share is time a virtual machine's CPUs were runnable but held by
    the hypervisor for other guests."""
    with open("/proc/stat") as f:
        ticks = [int(t) for t in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


# ---- Spark event log ------------------------------------------------------

STAGE_FIELDS = ("run_core_s", "cpu_core_s", "shuffle_write_mb", "spill_mb")
_ACC = {
    "internal.metrics.executorRunTime": ("run_core_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_core_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 2**-20),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 2**-20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 2**-20),
}


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the one application's uncompressed event log
    files (``events_*``, possibly rolled) under ``log_dir``.

    A job is {id, submit, end, stages}; a stage is {id, label, submit, end,
    tasks, run_core_s, cpu_core_s, shuffle_write_mb, spill_mb}; times are
    epoch seconds. Stages skipped because their shuffle output was reused
    never complete and are not listed.
    """
    jobs: dict[int, dict] = {}
    stages: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1e3,
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = {
                        "id": info["Stage ID"],
                        "label": info["Stage Name"].split(" at ")[0],
                        "submit": info.get("Submission Time", 0) / 1e3,
                        "end": info.get("Completion Time", 0) / 1e3,
                        "tasks": info["Number of Tasks"],
                        "run_core_s": 0.0, "cpu_core_s": 0.0,
                        "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                    }
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            st[key[0]] += float(acc["Value"]) * key[1]
                    stages.append(st)
    return sorted(jobs.values(), key=lambda j: j["submit"]), stages


def in_window(items: list[dict], lo: float, hi: float) -> list[dict]:
    """Jobs or stages submitted inside [lo, hi] (event-log times are whole
    milliseconds, so the window is widened by one)."""
    return [i for i in items if lo - 1e-3 <= i["submit"] <= hi + 1e-3]


def stage_label(st: dict) -> str:
    """``barrier:px`` -> ``barrier.px``; any stage without a program label
    (pixel-store write, csim, TIFF decode, source listing) -> ``unlabeled``."""
    lab = st["label"]
    if lab.startswith(("barrier:", "sink:")):
        return lab.replace(":", ".", 1)
    return "unlabeled"


# ---- host weather ---------------------------------------------------------

def jvm_canary_s(spark, cpus: int) -> float:
    """Fixed-work codegen'd trig sum, one task per core, no Python, timed
    on its second run: a reading far above its calm value means the host
    was busy."""
    from pyspark.sql import functions as F

    def probe() -> float:
        t0 = time.perf_counter()
        (spark.range(cpus * 2_000_000, numPartitions=cpus)
         .select(F.sum(F.sin(F.col("id") % 1000000 * 1e-6)
                       * F.cos(F.col("id") % 1000000 * 1e-7)))
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    probe()
    return probe()


def py_canary_s(spark, cpus: int) -> float:
    """Fixed numpy work inside Python workers (one task per core, Arrow
    round trip included), timed on its second run: the Python-worker side
    of host weather."""
    def work(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rng = np.random.default_rng(7)
            acc = 0.0
            for _ in range(4):
                acc += float(np.sort(rng.random(500_000))[250_000])
            yield pd.DataFrame({"v": [acc] * len(pdf)})

    def probe() -> float:
        t0 = time.perf_counter()
        (spark.range(cpus, numPartitions=cpus).mapInPandas(work, "v double")
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    probe()
    return probe()
