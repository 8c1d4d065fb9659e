"""Launcher settings, host probes, statistics helpers and the span tracer.

Everything here observes the engine from outside: spans are timed around
calls into ``solr_spark`` public functions, and Spark work is attributed
to a span through the job group the span sets and the jobs and stages
Spark's own status store lists for that group.
"""

from __future__ import annotations

import itertools
import json
import os
import resource
import shutil
import subprocess
import time
from contextlib import contextmanager

#: fixed driver heap (initial = maximum): fits a 15 GB host shared with
#: other processes, and keeps the JVM's resident size from drifting with
#: heap resizing
DRIVER_HEAP = "2g"


# ---------------------------------------------------------------------------
# ratio helper
# ---------------------------------------------------------------------------


def ratio(num: float, base: float) -> float:
    """``num / base``, 0.0 when the base is 0 (the layer did no work)."""
    return num / base if base else 0.0


# ---------------------------------------------------------------------------
# host probes
# ---------------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat (the probe bench.py uses)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    return ratio(end[0] - start[0], end[1] - start[1])


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver JVM plus the Python driver, MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _vm_hwm_kb(jvm_pid)) / 1024.0


def tree_files(path: str) -> dict[str, tuple[int, int, int]]:
    """relative path -> (size, mtime_ns, inode) of every file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


# ---------------------------------------------------------------------------
# Spark session on this host's shape
# ---------------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """One local Spark session whose every file lives under ``work``.

    ``start`` records the Spark start time; ``close`` stops the context,
    shuts the gateway JVM down and waits until it has exited.
    """

    def __init__(self, root: str, work: str):
        self.root = root
        self.work = work
        self.cpus = host_cpus()
        self.spark = None
        self.start_s = 0.0

    def start(self):
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # no JVM perf-data files: HotSpot writes those to /tmp regardless
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        from solr_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100",
            },
        )
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def host_record(self) -> dict:
        jvm = self.spark._jvm.java.lang.System
        return {
            "nproc": self.cpus,
            "driver_heap": DRIVER_HEAP,
            "spark": self.spark.version,
            "java": str(jvm.getProperty("java.version")),
        }

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# spans + status-store attribution
# ---------------------------------------------------------------------------

_STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("input_records", "inputRecords", 1),
    ("output_bytes", "outputBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


class Tracer:
    """In-memory spans around calls into the engine.

    Each span has a name, start, end, parent and request id. A span
    opened with ``group=True`` sets its own Spark job group, so the jobs
    the call starts can be listed afterwards with :meth:`jobs`. Spans are
    only recorded when ``enabled``; timing callers use the returned span
    either way, so a traced and an untraced run execute the same code.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, request_id: str | None = None, group: bool = False):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request_id or (parent["request"] if parent else None),
            "group": None,
        }
        sc = self.spark.sparkContext
        if group:  # traced and untraced tracers never share a group name
            rec["group"] = f"pb-{'t' if self.enabled else 'u'}{rec['id']}"
            sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if group:
                outer = next((s["group"] for s in reversed(self._stack) if s["group"]), None)
                if outer:
                    sc.setJobGroup(outer, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            if self.enabled:
                self.spans.append(rec)

    # -- status store ------------------------------------------------------
    def _store(self):
        ssc = self.spark.sparkContext._jsc.sc()
        ssc.listenerBus().waitUntilEmpty()
        return ssc.statusStore()

    def jobs(self, group: str) -> list[dict]:
        """Jobs Spark ran under ``group``, each with its stages' metrics."""
        store = self._store()
        out = []
        for jid in sorted(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(int(jid))
            sub = jd.submissionTime()
            job = {
                "id": int(jid),
                "name": str(jd.name()),
                "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                "tasks": 0,
            }
            for k, _attr, _scale in _STAGE_FIELDS:
                job[k] = 0.0
            sids = jd.stageIds()
            for i in range(sids.size()):
                sd = store.lastStageAttempt(int(sids.apply(i)))
                if str(sd.status().toString()) == "SKIPPED":
                    continue
                job["tasks"] += int(sd.numTasks())
                for k, attr, scale in _STAGE_FIELDS:
                    job[k] += getattr(sd, attr)() * scale
            out.append(job)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def sum_jobs(jobs: list[dict], key: str) -> float:
    return float(sum(j[key] for j in jobs))


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
