"""Measurement plumbing shared by the workloads.

Everything here observes the program from outside: wall clocks around
calls into its public functions, Spark's own status store and SQL
status store, ``CodegenMetrics`` and the code generator's cumulative
compile time, the block manager's RDD storage report, the JVM's memory
beans, and ``/proc`` for the Python processes' memory.  Nothing in the
package is patched.
"""

from __future__ import annotations

import json
import os
import platform
import re
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

# A query's parts must account for its wall within this share of the
# wall (the benchmark's own tests check it on every traced query).
ACCOUNTING_TOLERANCE = 0.05

# Python exec node SQL metrics (display name -> per-layer metric).
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_sql_metric(text: str) -> float:
    """Total of one SQL metric as the SQL status store formats it:
    ``'100,000'``, ``'0 ms'``, or ``'total (min, med, max ...)\\n3.8 s (...)'``.
    Sizes come back in bytes and timings in seconds."""
    head = text.split("\n")[-1].split(" (")[0].strip().replace(",", "")
    parts = head.split()
    if len(parts) == 1:
        return float(parts[0])
    value, unit = float(parts[0]), parts[1]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    raise ValueError(f"unknown SQL metric unit in {text!r}")


def quantiles(samples: list[float]) -> dict:
    """Median, and the highest percentile (at most the 99th, at least
    the median) that has at least ten samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if not n:
        return {"n": 0, "p50": float("nan"), "p_hi": float("nan"), "p_hi_level": 0.0}
    idx = max(n // 2, min(int(0.99 * n), n - 11))
    return {"n": n, "p50": statistics.median(xs), "p_hi": xs[idx], "p_hi_level": idx / n}


class Tracer:
    """In-memory spans: name, start, end, parent and run id.

    Disabled tracers record nothing; ``span`` then costs one branch.
    Spans from other threads pass their parent explicitly to ``add``.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1]["id"] if self._stack else None
        s = self.add(name, time.perf_counter(), None, parent, **attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def current(self) -> int | None:
        return self._stack[-1]["id"] if self._stack else None

    def add(self, name, start, end, parent, **attrs) -> dict:
        with self._lock:
            s = {
                "id": len(self.spans),
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "run": self.run_id,
                "attrs": attrs,
            }
            self.spans.append(s)
        return s

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_self_s(self) -> dict[str, float]:
        totals: dict[str, float] = {}
        st = self.self_times()
        for s in self.spans:
            totals[s["name"]] = totals.get(s["name"], 0.0) + st[s["id"]]
        return totals

    def dump(self, path: str) -> None:
        st = self.self_times()
        rows = [dict(s, self_s=st[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": rows}, f)


class PssSampler:
    """Peak proportional set size of this process and its Python
    descendants (the Python worker daemon and its forked workers, the
    serving queue manager), sampled from ``/proc``.  Pages that forked
    workers share copy-on-write are split among them instead of being
    counted once per worker, so the sum is the memory the tree holds.

    The driver JVM is left out: its resident size is the heap that G1
    chose to commit, which follows GC timing more than the program's
    data (``SparkProbe.jvm_retained_bytes`` measures it instead).
    """

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        parent_of: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent_of[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent_of.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        total = 0
        for pid in tree:
            try:
                total += self._pss(pid)
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                return 0
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0


def process_age_s() -> float:
    """Seconds since this process started (from ``/proc``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The machine's cumulative CPU ticks from ``/proc/stat``: user,
    nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Busy, idle and steal shares of the machine's CPU time between two
    ``cpu_times`` readings.  Steal is time the hypervisor gave to other
    guests: a run with much of it ran on a busier host."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    return {"busy": (sum(d[:3]) + sum(d[5:7])) / total, "idle": (d[3] + d[4]) / total, "steal": d[7] / total}


def host_info(root: str) -> dict:
    """What a result must carry to be compared like for like."""
    with open("/proc/meminfo") as f:
        mem_kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    try:
        lines = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()
        java = next((ln for ln in lines if "version" in ln), None)
    except (OSError, subprocess.SubprocessError):
        java = None
    commit = None
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=30,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "mem_total_mb": mem_kb // 1024,
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", "package default"),
        "git_commit": commit,
    }


class SparkProbe:
    """Reads what Spark itself recorded between two marks.

    ``mark()`` snapshots the newest job id, the newest SQL execution id
    and the cumulative codegen counters; ``since(mark)`` sums every job,
    stage and SQL execution started after it.  Jobs are attributed by id
    rather than by job group alone, so jobs that an operator launches
    from its own helper threads (which do not inherit the caller's job
    group) are counted too.  Call ``since`` right after each query: the
    status store keeps only the newest 1000 jobs and stages.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.jvm = sc._jvm
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.cores = sc.defaultParallelism
        self._empty = sc._gateway.new_array(self.jvm.double, 0)
        self._codegen = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def _last_job(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _last_execution(self) -> int:
        execs = self.sql_store.executionsList()
        return execs.last().executionId() if execs.size() else -1

    def mark(self) -> dict:
        self.drain()
        return {
            "job": self._last_job(),
            "sql": self._last_execution(),
            "compile_ns": self._codegen.compileTime(),
            "compiles": self._compiles.getCount(),
        }

    def since(self, mark: dict) -> dict:
        self.drain()
        out = {
            "spark.jobs": 0,
            "spark.stages": 0,
            "spark.tasks": 0,
            "executor.run_s": 0.0,
            "executor.cpu_s": 0.0,
            "executor.gc_s": 0.0,
            "shuffle.write_bytes": 0,
            "shuffle.read_bytes": 0,
            "shuffle.fetch_wait_s": 0.0,
            "spill.bytes": 0,
            "pipeline.python_nodes": 0,
            "codegen.compile_s": (self._codegen.compileTime() - mark["compile_ns"]) / 1e9,
            "codegen.compiles": self._compiles.getCount() - mark["compiles"],
        }
        for metric in PYTHON_SQL_METRICS.values():
            out[metric] = 0.0
        jobs = self.store.jobsList(None)
        stage_ids = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= mark["job"]:
                break
            out["spark.jobs"] += 1
            sids = job.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, self.jvm.java.util.ArrayList(), False, self._empty)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                if s.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["executor.run_s"] += s.executorRunTime() / 1e3
                out["executor.cpu_s"] += s.executorCpuTime() / 1e9
                out["executor.gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle.write_bytes"] += s.shuffleWriteBytes()
                out["shuffle.read_bytes"] += s.shuffleReadBytes()
                out["shuffle.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
                out["spill.bytes"] += s.diskBytesSpilled()
        eid = mark["sql"] + 1
        last = self._last_execution()
        while eid <= last:
            self._add_python_metrics(eid, out)
            eid += 1
        return out

    def _add_python_metrics(self, eid: int, out: dict) -> None:
        if not self.sql_store.execution(eid).isDefined():
            return
        values = self.sql_store.executionMetrics(eid)
        nodes = self.sql_store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            metrics = nodes.apply(k).metrics()
            python_node = False
            for m in range(metrics.size()):
                sm = metrics.apply(m)
                key = PYTHON_SQL_METRICS.get(sm.name())
                if key is None:
                    continue
                python_node = True
                v = values.get(sm.accumulatorId())
                if v.isDefined():
                    out[key] += parse_sql_metric(v.get())
            out["pipeline.python_nodes"] += int(python_node)

    def jvm_retained_bytes(self) -> tuple[int, list[int]]:
        """Driver JVM memory in use after full collections: live heap
        plus non-heap (metaspace, code cache).

        A collection lets Spark's context cleaner, on its own thread,
        drop the shuffle, broadcast and checkpoint blocks of datasets
        that became unreachable; a later collection frees them.  So this
        collects every half second until two rounds in a row (after the
        third) agree within 2 MiB.  Returns the figure and every round's."""
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        rounds: list[int] = []
        while len(rounds) < 12:
            self.jvm.System.gc()
            time.sleep(0.5)
            rounds.append(mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed())
            if len(rounds) >= 4 and abs(rounds[-1] - rounds[-2]) < 2**21:
                break
        return rounds[-1], rounds

    def cache_state(self) -> dict:
        infos = self.jsc.getRDDStorageInfo()
        return {
            "cache.storage_used_bytes": sum(r.memSize() + r.diskSize() for r in infos),
            "cache.rdd_blocks": sum(r.numCachedPartitions() for r in infos),
        }

    def plan_s(self, df) -> float:
        """Catalyst time to plan ``df``, from its QueryPlanningTracker."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        it = phases.iterator()
        total_ms = 0
        while it.hasNext():
            total_ms += it.next()._2().durationMs()
        return total_ms / 1e3
