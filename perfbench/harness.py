"""Run a workload: set-up, warm-up, measurement, checks and the result line.

The engine is driven only through its public functions, from this one
process. Each workload is an object with ``setup``, ``warmup``, ``measure``,
``check``, ``attribute`` and ``layers`` (``PollStream`` in ``pipeline.py``,
``Lake`` in ``lake.py``); this module owns the Spark session, the work
directory, tracing and the metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import stats
from spans import EventLog, Tracer, read_event_log

#: set-ups per run; ``setup_s`` is their median
SETUP_REPEATS = 3

#: driver JVM options the benchmark adds (the engine's session is unchanged):
#: keep the JIT compiler threads alive, so that their CPU can be left out
JVM_OPTIONS = "-XX:-UseDynamicNumberOfCompilerThreads"

#: JVM threads whose CPU is not the engine's work: the JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

#: the bounded metrics are engine CPU seconds (driver JVM + Python), which
#: time spent waiting for a busy shared host does not move; wall-clock
#: latencies are per-layer metrics of the traced run
END_TO_END = (
    ("setup_s", "s"),
    ("op_cpu_mean_s", "s"),
    ("table_op_cpu_mean_s", "s"),
)

#: every layer metric of the traced run; a layer a workload does not use reads 0
PER_LAYER = (
    ("session.start_s", "s"), ("process.peak_rss_mb", "MB"),
    ("opensky.decode_s", "s"), ("opensky.landing_scans", "count"), ("opensky.read_amplification", "ratio"),
    ("enrich.build_s", "s"), ("enrich.exec_s", "s"),
    ("quality.build_s", "s"), ("quality.exec_s", "s"), ("quality.shuffle_bytes", "bytes"),
    ("anomaly.build_s", "s"), ("anomaly.exec_s", "s"), ("anomaly.shuffle_bytes", "bytes"),
    ("sinks.write_s", "s"), ("sinks.jobs", "count"), ("sinks.files_written", "count"), ("sinks.bytes_written", "bytes"),
    ("stream.jobs_per_batch", "count"), ("stream.polls_per_batch", "count"), ("stream.add_batch_s", "s"),
    ("stream.query_planning_s", "s"), ("stream.offset_commit_s", "s"), ("stream.backlog_polls", "count"),
    ("generator.lateness_s", "s"),
    ("analytics.build_s", "s"), ("analytics.plan_s", "s"), ("analytics.exec_s", "s"),
    ("analytics.shuffle_bytes", "bytes"), ("analytics.jobs_per_query", "count"),
    ("analytics.files_read_ratio", "ratio"), ("analytics.suite_s", "s"),
    ("versioned.commit_p50_s", "s"), ("versioned.merge_p50_s", "s"), ("versioned.delete_p50_s", "s"),
    ("versioned.lookup_p50_s", "s"), ("versioned.lookup_tail_s", "s"),
    ("versioned.jobs_per_commit", "count"), ("versioned.manifest_bytes", "bytes"),
    ("versioned.write_amplification", "ratio"), ("versioned.files_rewritten_per_merge", "count"),
    ("versioned.plan_files_s", "s"), ("versioned.files_kept_ratio", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.core_busy_ratio", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
    ("wall.latency_p50_s", "s"), ("wall.latency_tail_s", "s"), ("wall.table_op_p50_s", "s"),
    ("trace.traced_p50_s", "s"), ("trace.overhead_ratio", "ratio"),
)


@dataclass
class Measured:
    """What one measurement window produced."""

    latencies: list[float] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)  # operation kind per latency
    table_ops: list[float] = field(default_factory=list)  # durations of the operations on output tables
    cpu: list[float] = field(default_factory=list)  # engine CPU seconds per operation
    op_cpu: list[float] = field(default_factory=list)  # engine CPU seconds per operation of the main kind
    table_cpu: list[float] = field(default_factory=list)  # engine CPU seconds per output-table operation
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    window: tuple[float, float] = (0.0, 0.0)  # wall-clock start, end
    extra: dict = field(default_factory=dict)

    def fail(self, message: str) -> None:
        self.failed += 1
        self.errors.append(message)


class Bench:
    """Per-run context handed to the workload."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.work = os.path.join(root, "perfbench", "work", f"{workload}-{seed}")
        self.out = os.path.join(root, "perfbench", "out")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.makedirs(self.out, exist_ok=True)
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.events_dir = os.path.join(self.work, "events")
        cpus = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_CPUS"] = cpus
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options \"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} {JVM_OPTIONS}\" pyspark-shell"
        )

    def start_session(self) -> float:
        """(Re)start the engine's session; returns the seconds it took."""
        from aws_flight_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("flightspark-perfbench")
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer.enabled:
            self.tracer.sc = self.spark.sparkContext
        return took

    def enable_event_log(self) -> None:
        """Turn on Spark's uncompressed event log for sessions started from
        now on (JVM system properties, so the engine's session builder is
        untouched)."""
        from pyspark import SparkContext

        os.makedirs(self.events_dir, exist_ok=True)
        props = SparkContext._jvm.System
        props.setProperty("spark.eventLog.enabled", "true")
        props.setProperty("spark.eventLog.dir", "file://" + self.events_dir)
        props.setProperty("spark.eventLog.compress", "false")

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def attempt(self, m: Measured, kind: str, fn, rows: int = 0):
        """Run one timed operation; a raised exception counts as a failure."""
        m.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            m.fail(traceback.format_exc(limit=3))
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        m.cpu.append(tree_cpu_s() - c0)
        m.latencies.append(dt)
        m.kinds.append(kind)
        m.rows += rows
        return out


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields from the 3rd on) of a /proc stat file."""
    try:
        with open(path) as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


def _process_cpu_s(pid: int) -> float:
    """Run time of every thread a process has had, in seconds with
    nanosecond resolution: its CPUCLOCK_SCHED POSIX clock."""
    return time.clock_gettime(((~pid) << 3) | 2)


def _jit_cpu_s(pid: int) -> float:
    """Run time of a JVM's JIT compiler threads (``/proc`` schedstat, ns)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(JIT_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                total += int(fh.read().split()[0])
        except OSError:
            continue
    return total / 1e9


def tree_cpu_s() -> float:
    """CPU seconds of this process and every process below it (the driver
    JVM and any worker it starts), all threads, less the JVM's JIT compiler
    threads."""
    parent, names = {}, {}
    for d in os.listdir("/proc"):
        st = _stat(f"/proc/{d}/stat") if d.isdigit() else None
        if st is not None:
            names[int(d)], f = st
            parent[int(d)] = int(f[1])
    me, total = os.getpid(), 0.0
    for pid in parent:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p != me:
            continue
        try:
            total += _process_cpu_s(pid)
            if names[pid] == "java":
                total -= _jit_cpu_s(pid)
        except OSError:  # the process ended after the listing
            continue
    return total


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_cpu_s() -> dict:
    """The host's CPU time so far by state, in seconds (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), (x / _TICK for x in f)))


def host_record() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "loadavg": list(os.getloadavg()),
    }


def run(root: str, workload, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Run ``workload`` once; returns (result line, full report)."""
    b = Bench(root, workload.name, seed, seconds)
    host = host_record()
    cpu_start = host_cpu_s()
    report: dict = {"workload": workload.name, "seed": seed, "seconds": seconds, "trace": trace, "host": host}
    try:
        setup_times, session_times = [], []
        phases = report["phases_s"] = {}
        clock = time.perf_counter()

        def phase(name: str) -> None:
            nonlocal clock
            now = time.perf_counter()
            phases[name] = now - clock
            clock = now

        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            session_times.append(b.start_session())
            workload.setup(b, os.path.join(b.work, f"setup{i}"))
            setup_times.append(time.perf_counter() - t0)
        phase("setup")
        workload.warmup(b)
        phase("warmup")
        m = workload.measure(b)
        phase("measure")
        errors = workload.check(b, m)
        phase("check")
        layer: dict = {}
        if trace:
            traced, log, traced_errors = _traced_pass(b, workload)
            errors += traced_errors
            layer = _layer_metrics(b, workload, m, traced, log, session_times)
            layer["process.peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(b.jvm_pid() or "self")
            m.attempted += traced.attempted
            m.failed += traced.failed
            m.errors += traced.errors
            phase("traced")
    finally:
        b.shutdown()
    phase("shutdown")
    host["loadavg_end"] = list(os.getloadavg())
    # CPU time the hypervisor gave to others and the host's idle time, over the run
    host["steal_s"] = host_cpu_s()["steal"] - cpu_start["steal"]
    host["idle_s"] = host_cpu_s()["idle"] - cpu_start["idle"]
    for e in errors:
        m.fail(e)
    lat = m.latencies
    level = stats.tail_level(len(lat))
    report.update({
        "setup_times_s": setup_times, "session_start_s": session_times,
        "latencies_s": m.latencies, "kinds": m.kinds, "table_ops_s": m.table_ops, "tail_level": level, "samples": len(lat),
        "cpu_s": m.cpu, "table_cpu_s": m.table_cpu, "rows": m.rows, "errors": m.errors, "extra": m.extra,
    })
    if trace:
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER}
    else:
        values = {
            "setup_s": stats.median(setup_times),
            "op_cpu_mean_s": sum(m.op_cpu) / len(m.op_cpu) if m.op_cpu else 0.0,
            "table_op_cpu_mean_s": sum(m.table_cpu) / len(m.table_cpu) if m.table_cpu else 0.0,
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    report["metrics"] = metrics
    result = {
        "correct": m.failed == 0 and bool(m.latencies),
        "attempted": max(1, m.attempted),
        "failed": m.failed if m.attempted else 1,
        "metrics": metrics,
    }
    if trace:
        b.tracer.dump(os.path.join(b.out, f"{workload.name}-seed{seed}-spans.json"))
    shutil.rmtree(b.work, ignore_errors=True)
    return result, report


def _traced_pass(b: Bench, workload) -> tuple[Measured, EventLog, list[str]]:
    """Repeat set-up, warm-up and measurement with spans, job groups and
    the event log on, then run the workload's attribution passes. Warm-up
    runs again because it starts what a session holds (the streaming query,
    the versioned table)."""
    b.enable_event_log()
    b.tracer.enabled = True
    b.start_session()
    workload.setup(b, os.path.join(b.work, "traced"))
    workload.warmup(b)
    traced = workload.measure(b)
    errors = workload.check(b, traced)
    workload.attribute(b)
    b.spark.stop()  # flushes the event log
    b.spark = None
    return traced, read_event_log(b.events_dir), errors


def _layer_metrics(b: Bench, workload, untraced: Measured, traced: Measured, log: EventLog,
                   session_times: list[float]) -> dict:
    out = {"session.start_s": stats.median(session_times)}
    out.update(workload.layers(b, traced, log))
    lat = untraced.latencies
    u = stats.median(lat) if lat else 0.0
    t = stats.median(traced.latencies) if traced.latencies else 0.0
    out["wall.latency_p50_s"] = u
    out["wall.latency_tail_s"] = stats.percentile(lat, stats.tail_level(len(lat))) if lat else 0.0
    out["wall.table_op_p50_s"] = stats.median(untraced.table_ops) if untraced.table_ops else 0.0
    out["trace.traced_p50_s"] = t
    out["trace.overhead_ratio"] = t / u if u > 0 else 0.0
    ops = [s for s in b.tracer.spans
           if s.parent is None and s.name.startswith("op:") and s.start >= traced.window[0]]
    by_time = getattr(workload, "attribute_by_time", False)
    jobs = log.jobs_for(ops, b.tracer, by_time=by_time)
    tot = log.totals(jobs)
    wall = traced.window[1] - traced.window[0]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    for k in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        out[f"spark.{k}"] = tot[k]
    out["spark.core_busy_ratio"] = tot["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    return out


def print_result(result: dict, report: dict, out_dir: str) -> None:
    name = f"{report['workload']}-seed{report['seed']}-trace{int(report['trace'])}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"host": report["host"], "samples": report["samples"], "tail_level": report["tail_level"]}))
    print(json.dumps(result))
