"""Read Spark's own counters from outside the engine.

Everything here goes through ``SparkContext.statusStore()`` (the store
behind the web UI, kept even with the UI off) and ``/proc``. The store is
fed asynchronously by the listener bus, so every read first waits for
the bus to drain; otherwise a job that just returned can still lack its
completion time.
"""

from __future__ import annotations

import json
import os

#: Stage fields summed per span, as (output name, StageData field, scale).
STAGE_SUMS = [
    ("tasks", "numTasks", 1),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_mb", "inputBytes", 1 / 2**20),
    ("output_mb", "outputBytes", 1 / 2**20),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("spill_mb", "memoryBytesSpilled", 1 / 2**20),
    ("spill_mb", "diskBytesSpilled", 1 / 2**20),
]


def codegen_classes(spark) -> int:
    """Classes whole-stage codegen has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    codegen = getattr(getattr(metrics, "CodegenMetrics$"), "MODULE$")
    return codegen.METRIC_COMPILATION_TIME().getCount()


class StatusReader:
    """Job and stage records of one SparkContext, as plain dicts."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._core = sc._jsc.sc()
        jvm = sc._jvm
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def _drain(self) -> None:
        self._core.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        """Every retained job: jobId, jobGroup, stageIds, submission and
        completion times (epoch ms), status."""
        self._drain()
        store = self._core.statusStore()
        return json.loads(self._mapper.writeValueAsString(store.jobsList(None)))

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every retained stage, keyed by stage id."""
        self._drain()
        store = self._core.statusStore()
        rows = json.loads(
            self._mapper.writeValueAsString(
                store.stageList(None, False, False, self._no_quantiles, self._no_status)
            )
        )
        out: dict[int, dict] = {}
        for s in rows:
            if s["stageId"] not in out or s["attemptId"] > out[s["stageId"]]["attemptId"]:
                out[s["stageId"]] = s
        return out


def stage_totals(stages: dict[int, dict], stage_ids) -> dict[str, float]:
    """Sum the STAGE_SUMS fields over ``stage_ids`` (skipped stages add 0)."""
    out = {name: 0 for name, _, _ in STAGE_SUMS}
    out["stages"] = 0
    for sid in set(stage_ids):
        s = stages.get(sid)
        if s is None or s.get("status") == "SKIPPED":
            continue
        out["stages"] += 1
        for name, field, scale in STAGE_SUMS:
            out[name] += (s.get(field) or 0) * scale
    return out


def job_walls_ms(jobs: list[dict]) -> list[float]:
    return [
        j["completionTime"] - j["submissionTime"]
        for j in jobs
        if j.get("completionTime") and j.get("submissionTime")
    ]


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


#: JVM thread-name prefixes, by what the thread does
THREAD_KINDS = [("jit", ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")),
                ("gc", ("GC Thread", "G1 ", "VM Thread"))]


def thread_cpu_s(pid: int) -> dict[str, tuple[str, float, float]]:
    """Per live thread of a process, by thread id: its kind (``jit`` for
    compiler threads, ``gc`` for collector and safepoint threads, ``work``
    for the rest), the CPU seconds it has run, and the seconds it has
    waited, runnable, for a CPU. Both come from the scheduler's
    nanosecond clock, which leaves out time the hypervisor gave to
    other guests."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                name = fh.read().rstrip("\n")
            with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                run_ns, wait_ns = fh.read().split()[:2]
        except OSError:  # the thread ended
            continue
        kind = next((k for k, prefixes in THREAD_KINDS if name.startswith(prefixes)), "work")
        out[tid] = (kind, int(run_ns) / 1e9, int(wait_ns) / 1e9)
    return out


def cpu_between(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per thread kind, and runnable-wait seconds in total,
    between two ``thread_cpu_s`` readings. A thread that ended in between
    is lost: the JVM ends compiler and pool threads only once they idle."""
    out = {"jit": 0.0, "gc": 0.0, "work": 0.0, "wait": 0.0}
    for tid, (kind, cpu, wait) in after.items():
        _, cpu0, wait0 = before.get(tid, (kind, 0.0, 0.0))
        out[kind] += cpu - cpu0
        out["wait"] += wait - wait0
    return out


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out
