#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pin_batch --seed 1 --seconds 12 --trace 0

One run, in one process on ``local[nproc / 2]``, with the JVM's JIT
limited to C1:

1. set up ``SETUPS`` times (session start, fixtures, seeded inputs) and report
   the median as ``setup_s``;
2. compute the reference answers (DuckDB oracles), untimed;
3. run the cold pass in the last, fresh session; it is the warm-up;
4. force a full GC;
5. run measured passes for ``--seconds`` seconds (at least
   ``MIN_MEASURED``), reading the CPU time of every engine thread
   before and after each;
6. run the checks that need Spark after the passes (streaming's batch
   reference), untimed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
CPU seconds per pass, which a busy host moves far less than walls. With
``--trace 1`` half the measured passes are traced (job groups per
build/run span, status-store attribution, streaming progress) and the
line carries the per-layer metrics, the wall-clock figures and the
tracing overhead. Every operation's output is checked; a mismatch makes
``correct`` false and the exit code 1. A full record of the run is
written under ``.perfbench/results/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "pinterest_data_pipeline400_spark"

SETUPS = 3
MIN_MEASURED = 2
#: C1 only: whole-stage codegen compiles new classes in every pass, and
#: C2 recompiling them takes more CPU than the program itself and keeps
#: the pass CPU drifting for the whole run; see README.md
JVM_OPTS = "-XX:TieredStopAtLevel=1"
PLAN_MODULES = ["pinterest_queries"]
STREAM_PARTS = [("add_batch_ms", "addBatch"), ("query_planning_ms", "queryPlanning"),
                ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
                ("latest_offset_ms", "latestOffset")]


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """Spans around calls into the engine. Off: no-op context managers.
    On: each span sets its own Spark job group, so the jobs it causes
    can be read back from the status store."""

    def __init__(self, sc):
        self.sc = sc
        self.on = False
        self.pass_id = 0
        self.spans: list[dict] = []

    @contextmanager
    def span(self, op: str, phase: str):
        if not self.on:
            yield
            return
        group = f"perfbench|{self.pass_id}|{op}|{phase}"
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"pass": self.pass_id, "op": op, "phase": phase,
                               "parent": op, "group": group, "start": t0,
                               "end": time.perf_counter(), "groups": [group]})


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cpus = task_threads()
        self.spark = None
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0

    # -- session ------------------------------------------------------
    def start_session(self):
        from pinterest_data_pipeline400_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = build_session(
            app_name=f"perfbench-{self.args.workload}",
            cpus=self.cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Dderby.system.home={self.work}/derby -Djava.io.tmpdir={self.work}/tmp {JVM_OPTS}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.range(1).count()  # the context is up once a job has run
        return self.spark

    # -- protocol -----------------------------------------------------
    def run(self) -> None:
        from perfbench import sparkstats, workloads

        t0 = time.perf_counter()
        import __spark_entry__  # noqa: F401 — registers every plan module

        self.import_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[self.args.workload](self.work, self.args.seed, self.args.tiny)
        self.wl = wl
        for k in range(SETUPS):
            t0 = time.perf_counter()
            spark = self.start_session()
            t1 = time.perf_counter()
            layers = wl.setup(spark, k)
            self.setups.append({"total_s": time.perf_counter() - t0,
                                "session.build_s": t1 - t0, **layers})
        wl.spark = spark
        self.reader = sparkstats.StatusReader(spark)
        self.tracer = Tracer(spark.sparkContext)
        t0 = time.perf_counter()
        wl.prepare_checks(spark)
        self.prepare_s = time.perf_counter() - t0

        self.run_pass("cold", traced=False)
        # a full GC now, so that the cold pass's garbage is not collected
        # inside a measured pass
        self.spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        n = 0
        # with --trace 1, every second pass is traced, from the second on
        least = MIN_MEASURED + 1 if self.args.trace else MIN_MEASURED
        while n < least or time.perf_counter() - t0 < self.args.seconds:
            self.run_pass("measured", traced=bool(self.args.trace) and n % 2 == 1)
            n += 1
        self.measure_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for why in wl.final_check(self.spark):
            self.failures.append(why)
            print(f"perfbench: FAIL {why}", file=sys.stderr)
        self.final_check_s = time.perf_counter() - t0
        self.rss_mb = sparkstats.peak_rss_mb(self.reader.jvm_pid) + sparkstats.peak_rss_mb(os.getpid())
        self.versions = {
            "java": self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "spark": self.spark.version,
        }

    def run_pass(self, kind: str, traced: bool) -> None:
        from perfbench import sparkstats

        wl, tracer, sc = self.wl, self.tracer, self.spark.sparkContext
        idx = len(self.passes)
        ops = wl.pass_ops()
        first_job = max((j["jobId"] for j in self.reader.jobs()), default=-1)
        tracer.on, tracer.pass_id = traced, idx
        span_mark = len(tracer.spans)
        results = []
        jvm0, py0 = self.engine_threads(), sparkstats.thread_cpu_s(os.getpid())
        classes0 = sparkstats.codegen_classes(self.spark)
        t_pass = time.perf_counter()
        for op in ops:
            t0 = time.perf_counter()
            try:
                out, err = op.call(tracer), None
            except Exception as exc:  # a failed operation is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                out, err = None, f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            results.append((op, out, err, t0, time.perf_counter()))
        wall = time.perf_counter() - t_pass
        cpu = sparkstats.cpu_between(jvm0, self.engine_threads())
        py = sparkstats.cpu_between(py0, sparkstats.thread_cpu_s(os.getpid()))
        cpu.update(python=py["work"], wait=cpu["wait"] + py["wait"])
        classes = sparkstats.codegen_classes(self.spark) - classes0
        tracer.on = False
        if traced:
            sc.setJobGroup("perfbench|checks", "perfbench|checks")
        jobs = [j for j in self.reader.jobs() if j["jobId"] > first_job]
        stages = self.reader.stages()

        rec_ops = []
        for op, out, err, t0, t1 in results:
            self.attempted += 1
            if err is None:
                try:
                    err = wl.check(op, out, self.spark)
                except Exception as exc:
                    traceback.print_exc(file=sys.stderr)
                    err = f"check failed: {type(exc).__name__}: {exc}".splitlines()[0][:300]
            if err is not None:
                self.failures.append(f"pass {idx} {op.name}: {err}")
                print(f"perfbench: FAIL pass {idx} {op.name}: {err}", file=sys.stderr)
            rec = {"name": op.name, "layer": op.layer, "headline": op.headline,
                   "wall": t1 - t0, "start": t0, "end": t1, "ok": err is None}
            if out is not None:
                rec["rows"] = out.extra.get("rows_out", out.rows)
                rec["rows_in"] = out.rows
                rec["progress"] = out.progress
                rec["query_ids"] = out.query_ids
                out.frame = None
            rec_ops.append(rec)
        wl.end_pass(self.spark)

        spans = tracer.spans[span_mark:]
        for s in spans:  # streaming queries run jobs under their own run id
            for r in rec_ops:
                if r["name"] == s["op"] and s["phase"] == "run":
                    s["groups"] += r.get("query_ids", [])
            in_span = [j for j in jobs if j.get("jobGroup") in s["groups"]]
            s["jobs"] = len(in_span)
            s.update(sparkstats.stage_totals(stages, [i for j in in_span for i in j["stageIds"]]))
        totals = sparkstats.stage_totals(stages, [i for j in jobs for i in j["stageIds"]])
        self.passes.append({
            "index": idx, "kind": kind, "traced": traced, "wall": wall, "cpu": cpu,
            "codegen_classes": classes, "ops": rec_ops,
            "spark.jobs": len(jobs), "job_walls_ms": sparkstats.job_walls_ms(jobs),
            "spans": spans, **{f"spark.{k}": v for k, v in totals.items()},
        })

    def engine_threads(self) -> dict:
        """``thread_cpu_s`` of the JVM and of the Python workers it
        forks (pandas UDFs and stateful operators run there)."""
        from perfbench import sparkstats

        out = {}
        for pid in [self.reader.jvm_pid, *sparkstats.descendants(self.reader.jvm_pid)]:
            try:
                out.update(sparkstats.thread_cpu_s(pid))
            except OSError:  # the worker ended
                pass
        return out

    # -- metrics ------------------------------------------------------
    def measured(self, traced: bool | None = None) -> list[dict]:
        return [p for p in self.passes if p["kind"] == "measured"
                and (traced is None or p["traced"] == traced)]

    def end_to_end(self) -> tuple[dict, dict]:
        m = self.measured(traced=False)
        values = {
            "setup_s": (median([s["total_s"] for s in self.setups]), "s"),
            "pass_cpu_s": (median([p["cpu"]["work"] + p["cpu"]["python"] for p in m]), "s"),
            "executor_cpu_s": (median([p["spark.executor_cpu_s"] for p in m]), "s"),
            "ok_rate": (1 - len(self.failures) / max(1, self.attempted), "ratio"),
        }
        return values, {"setup_s": len(self.setups), "passes": len(m)}

    def walls(self) -> dict:
        """Wall-clock figures of the untraced measured passes, from each
        operation's median wall."""
        ops = op_medians(self.measured(traced=False))
        pass_s = sum(o["wall"] for o in ops.values())
        return {
            "wall.pass_s": (pass_s, "s"),
            "wall.headline_s": (sum(o["wall"] for o in ops.values() if o["headline"]), "s"),
            "wall.rows_per_s": (sum(o["rows"] for o in ops.values()) / pass_s, "1/s"),
        }

    def per_layer(self) -> tuple[dict, dict]:
        traced = self.measured(traced=True)
        untraced = self.measured(traced=False)
        per_pass = [self._layers_of(p) for p in traced]
        names = per_pass[0].keys() if per_pass else []
        values = {n: (median([lp[n][0] for lp in per_pass]), per_pass[0][n][1]) for n in names}
        cold = {o["name"]: o["wall"] for o in self.passes[0]["ops"]}
        t_on = median([p["wall"] for p in traced])
        t_off = median([p["wall"] for p in untraced])
        values.update({
            "session.build_s": (median([s["session.build_s"] for s in self.setups]), "s"),
            "generator.build_s": (median([s["generator.build_s"] for s in self.setups]), "s"),
            "proc.peak_rss_mb": (self.rss_mb, "MB"),
            "pinterest.cleaned_tables_s": (cold.get("pinterest.cleaned_tables", 0.0), "s"),
            "session.cold_pass_s": (self.passes[0]["wall"], "s"),
            "trace.pass_s": (t_on, "s"),
            "trace.untraced_pass_s": (t_off, "s"),
            "trace.overhead_pct": (100 * (t_on - t_off) / t_off if t_off else 0.0, "%"),
            **self.walls(),
        })
        return values, {"traced_passes": len(traced), "untraced_passes": len(untraced)}

    def _layers_of(self, p: dict) -> dict:
        spans, ops = p["spans"], {o["name"]: o for o in p["ops"]}

        def span_s(pred):
            return sum(s["end"] - s["start"] for s in spans if pred(s))

        out = {
            "sources.read_s": (span_s(lambda s: s["phase"] == "read"), "s"),
            "sources.input_mb": (p["spark.input_mb"], "MB"),
            "sources.write_s": (span_s(lambda s: s["phase"] == "write"), "s"),
            "sources.output_mb": (p["spark.output_mb"], "MB"),
            "clean.pin_build_s": (span_s(lambda s: s["op"] == "clean.pin" and s["phase"] == "build"), "s"),
            "pinterest.pq_s": (sum(o["wall"] for o in p["ops"] if o["name"].startswith("pq")), "s"),
            "plans.uncovered_s": (p["wall"] - span_s(lambda s: True), "s"),
            "jvm.jit_cpu_s": (p["cpu"]["jit"], "s"),
            "jvm.gc_cpu_s": (p["cpu"]["gc"], "s"),
            "python.cpu_s": (p["cpu"]["python"], "s"),
            "proc.runqueue_wait_s": (p["cpu"]["wait"], "s"),
            "spark.codegen_classes": (p["codegen_classes"], "count"),
        }
        for t in ("pin", "geo", "user"):
            o = ops.get(f"clean.{t}") or ops.get(f"drain.{t}")
            out[f"clean.{t}_s"] = (o["wall"] if o else 0.0, "s")
        cleaners = [o for o in p["ops"] if o["name"] in
                    {f"{k}.{t}" for k in ("clean", "drain") for t in ("pin", "geo", "user")}]
        out["clean.rows_in"] = (sum(o.get("rows_in", 0) for o in cleaners), "count")
        out["clean.rows_out"] = (sum(o.get("rows", 0) for o in cleaners), "count")
        for m in PLAN_MODULES:
            for phase in ("build", "run"):
                mine = [s for s in spans if s["phase"] == phase
                        and ops.get(s["op"], {}).get("layer") == f"plans.{m}"]
                out[f"plans.{m}.{phase}_s"] = (sum(s["end"] - s["start"] for s in mine), "s")
                out[f"plans.{m}.{phase}_jobs"] = (sum(s["jobs"] for s in mine), "count")
        for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
                        ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")):
            out[f"spark.{k}"] = (p[f"spark.{k}"], unit)
        out["spark.cpu_util"] = (p["spark.executor_cpu_s"] / (p["wall"] * self.cpus), "ratio")
        out["spark.job_ms"] = (median(p["job_walls_ms"]), "ms")
        out.update(self._stream_layers(p))
        return out

    def _stream_layers(self, p: dict) -> dict:
        batches = [b for o in p["ops"] for b in o.get("progress", [])]
        state_ops = [s for b in batches for s in b.get("stateOperators", [])]
        last_state = [s for o in p["ops"] if o.get("progress")
                      for s in o["progress"][-1].get("stateOperators", [])]
        out = {"streaming.batches": (len(batches), "count"),
               "streaming.batch_ms": (median([b["durationMs"]["triggerExecution"] for b in batches]), "ms")}
        for name, key in STREAM_PARTS:
            out[f"streaming.{name}"] = (median([b["durationMs"].get(key, 0) for b in batches]), "ms")
        out["streaming.state_rows"] = (sum(s.get("numRowsTotal", 0) for s in last_state), "count")
        out["streaming.state_mem_mb"] = (sum(s.get("memoryUsedBytes", 0) for s in last_state) / 2**20, "MB")
        out["streaming.state_commit_ms"] = (median([
            sum(s.get("commitTimeMs", 0) for s in b.get("stateOperators", [])) for b in batches
        ]), "ms")
        out["streaming.dropped_duplicates"] = (sum(
            s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
            + s.get("numRowsDroppedByWatermark", 0) for s in state_ops), "count")
        ops = {o["name"]: o["wall"] for o in p["ops"]}
        for t in ("pin", "geo", "user", "counts"):
            out[f"streaming.{t}_drain_s"] = (ops.get(f"drain.{t}", 0.0), "s")
        return out


def op_medians(passes: list[dict]) -> dict[str, dict]:
    """Per operation over ``passes``: its median wall and median rows."""
    ops: dict[str, list[dict]] = {}
    for p in passes:
        for o in p["ops"]:
            ops.setdefault(o["name"], []).append(o)
    return {name: {"wall": median([o["wall"] for o in calls]),
                   "rows": median([o.get("rows", 0) for o in calls]),
                   "headline": calls[0]["headline"]}
            for name, calls in ops.items()}


def task_threads() -> int:
    """Spark task threads: half the cores, so the JIT compiler, the GC,
    the Python driver and other tenants of a shared host do not preempt
    tasks (every stage waits for its slowest task)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


# -- isolation, host context, teardown ---------------------------------

def isolate(work: str, threads: int) -> None:
    """Give this run its own scratch, local, temp and warehouse dirs (so
    disk caches of earlier runs cannot warm it), and size the heap from
    the host's memory instead of the engine's 16g default."""
    for d in ("scratch", "local", "tmp", "derby", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    mem_mb = host_mem_mb()
    os.environ.update({
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, mem_mb // 4)}m",
        "SPARK_GRAFT_CPUS": str(threads),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal …)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def source_digest() -> str:
    """sha256 over the engine sources, to name the code that was run
    where no git metadata exists."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, _, files in os.walk(os.path.join(ROOT, ENGINE)):
        paths += [os.path.join(base, f) for f in files if f.endswith(".py")]
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return res.stdout.strip() if res.returncode == 0 else None


def stop_everything(spark) -> None:
    """Stop Spark, end the JVM, and wait for every child process."""
    from pyspark import SparkContext

    from perfbench import sparkstats

    children = sparkstats.descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # a broken gateway still leaves the JVM to end below
        traceback.print_exc(file=sys.stderr)
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    for pid in children:
        while _alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                deadline = time.time() + 5
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pin_batch", "pin_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs (smoke test)")
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so Spark and the JVM still stop
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: engine sources not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    isolate(work, task_threads())
    host = {"nproc": len(os.sched_getaffinity(0)), "task_threads": task_threads(),
            "mem_total_mb": host_mem_mb(),
            "loadavg_start": os.getloadavg(), "python": platform.python_version(),
            "cpu_ticks_start": cpu_ticks(),
            "git_commit": git_commit(), "source_sha256": source_digest()}

    runner = Runner(args, work)
    try:
        runner.run()
    finally:
        t0 = time.perf_counter()
        try:
            stop_everything(runner.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    teardown_s = time.perf_counter() - t0
    ticks = [b - a for a, b in zip(host.pop("cpu_ticks_start"), cpu_ticks())]
    # time the hypervisor ran other guests on this VM's CPUs: a run with
    # a high share was slowed by the host, not by the program
    host.update(runner.versions, loadavg_end=os.getloadavg(),
                cpu_steal_share=ticks[7] / max(1, sum(ticks)))

    e2e, e2e_n = runner.end_to_end()
    layers, layer_n = runner.per_layer() if args.trace else ({}, {})
    chosen = layers if args.trace else e2e
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny, "host": host,
        "engine_import_s": runner.import_s, "prepare_checks_s": runner.prepare_s,
        "measure_s": runner.measure_s, "final_check_s": runner.final_check_s,
        "teardown_s": teardown_s, "setups": runner.setups,
        "end_to_end": {k: v for k, (v, _) in e2e.items()}, "samples": {**e2e_n, **layer_n},
        "wall": {k: v for k, (v, _) in runner.walls().items()},
        "per_layer": {k: v for k, (v, _) in layers.items()},
        "failures": runner.failures, "passes": runner.passes,
    }
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print("samples " + json.dumps(record["samples"]))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
