"""Benchmark for cosmos_xenna_spark on ``local[N]``, N half the cores
(``SPARK_GRAFT_CPUS`` overrides it).

Usage (from the repository root)::

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads, metrics and units are listed in ``BENCHMARK.json``; the
workloads themselves are in ``workloads.py``.  The seed drives the
generated tables and requests, and the query order of each
pass.  With ``--trace 0`` the last stdout line carries every end-to-end
metric; with ``--trace 1`` it carries every per-layer metric, and the
spans are written to ``perfbench/.work/out/``.  The line before it is a
detail record (host, data, samples, output checks), also written there.

Set-up (``setup_s``) runs once, from process start: interpreter,
imports, JVM launch, the engine session, the query registry import and
one Python task per core so the worker daemon is forked and its imports
preloaded.  Data generation is timed on its own (``data_prep_s`` in the
detail record), and so is the untimed output check that precedes the
timed passes (``check_s``), which also warms their plans and workers.

Memory (``memory_mb``) is the peak proportional set size of the Python
processes (this one, the worker daemon and its workers, the serving
queue manager) plus the driver JVM's heap and non-heap in use after
full collections at the end of the measured window: what the program
still holds once the workload has run (checkpoints, cached blocks,
status-store history, generated classes).  The driver heap is the
package's own default (``session.py``) unless ``SPARK_DRIVER_MEMORY``
is set.

Runs in one checkout take turns (a lock file under ``.work``); every
temp file, Spark local directory and checkpoint stays under ``.work``.

Exit status is 0 when every output check passed, 1 when some failed and
2 when the benchmark cannot run here.
"""

from __future__ import annotations

import argparse
import fcntl
import gc
import json
import math
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _identity(batches):
    yield from batches


def configure_env(work: str) -> None:
    """Point Spark, its Python workers and every temp file at ``work``.

    Python workers need the repository on PYTHONPATH: the session's
    ``spark.python.daemon.module`` is a package module."""
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # Spark gets half the cores: its task threads, their Python workers
    # and the JVM's own threads then fit on the machine at once.  On a
    # shared 4-core host whose hypervisor stole 14-16% of CPU time, a
    # pass over the iterative queries read 34-61% slower than without
    # steal on local[2] and 98% slower on local[4]; without steal the
    # two read about the same.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Every JVM (the launcher too) keeps its temp files in ``work`` and
    # writes no perf-data file to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path[:0] = [ROOT]


def spark_confs(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(tmp, "checkpoints"),
    }


class Bench:
    """One benchmark run: session, tracer, probes and the tally of
    attempted and failed operations."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        from harness import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(traced, f"{workload}-{seed}")
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.data = None
        self.spark = None
        self.probe = None

    def attempt(self, ok: bool, what: str, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append((what, why))

    def setup(self, started: tuple[float, float]) -> float:
        """Start the session; return seconds since process start.

        ``started`` is (process age, perf_counter) read together early in
        the run: the age has the kernel's clock-tick resolution, the
        perf_counter interval after it has full resolution."""
        from cosmos_xenna_spark.queries import load_registry
        from cosmos_xenna_spark.session import get_spark
        from harness import SparkProbe

        self.spark = get_spark(app_name="perfbench", extra_confs=spark_confs(WORK))
        self.spark.sparkContext.setLogLevel("ERROR")
        load_registry()
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(n, numPartitions=n).mapInPandas(_identity, "id long").collect()
        setup_s = started[0] + time.perf_counter() - started[1]
        self.probe = SparkProbe(self.spark)
        return setup_s

    def prepare_data(self, sf: float) -> str:
        import datagen

        path = os.path.join(WORK, "data", self.workload)
        t0 = time.perf_counter()
        generated = datagen.ensure(path, sf, self.seed)
        self.data = {
            "dir": path,
            "sf": sf,
            "fingerprint": datagen.fingerprint(sf, self.seed),
            "rows": datagen.on_disk_rows(path),
            "generated": generated,
            "data_prep_s": time.perf_counter() - t0,
        }
        return path

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def latest_untraced(workload: str, inputs: dict | None) -> dict | None:
    """The newest untraced result of ``workload`` on the same kind of
    inputs (the seed may differ), for the tracing overhead."""
    def kind(d):
        return {k: v for k, v in (d or {}).items() if k not in ("seed", "requests")}

    out = os.path.join(WORK, "out")
    best, best_mtime = None, -1.0
    for name in os.listdir(out):
        if not (name.startswith(f"result-{workload}-") and name.endswith("-trace0.json")):
            continue
        path = os.path.join(out, name)
        with open(path) as f:
            record = json.load(f)
        if kind(record["detail"].get("inputs")) == kind(inputs) and os.path.getmtime(path) > best_mtime:
            best, best_mtime = record, os.path.getmtime(path)
    return best


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    from harness import process_age_s

    started = (process_age_s(), time.perf_counter())

    if not os.path.isdir(os.path.join(ROOT, "cosmos_xenna_spark")):
        print(f"perfbench: no cosmos_xenna_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = metric_specs()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    # Runs in one checkout share its data and temp directories, so they
    # take turns.
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return run(args, spec, started)


def run(args, spec: dict, started: tuple[float, float]) -> int:
    configure_env(WORK)

    from harness import PssSampler, cpu_shares, cpu_times, host_info

    load_before = os.getloadavg()
    cpu_before = cpu_times()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        with PssSampler() as pss:
            setup_s = bench.setup(started)
            from workloads import WORKLOADS

            with bench.tracer.span("workload", workload=args.workload):
                e2e, layers, detail = WORKLOADS[args.workload](bench)
            # Drop the Python handles first so the JVM objects behind
            # them can be collected.
            gc.collect()
            jvm_bytes, gc_rounds = bench.probe.jvm_retained_bytes()
    finally:
        bench.shutdown()

    e2e["setup_s"] = setup_s
    e2e["memory_mb"] = (pss.peak_bytes + jvm_bytes) / 2**20
    detail["memory_parts_mb"] = {
        "python_peak_pss": pss.peak_bytes / 2**20,
        "jvm_retained": jvm_bytes / 2**20,
        "jvm_gc_rounds": [b / 2**20 for b in gc_rounds],
    }
    failed = len(bench.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host_info(ROOT),
        "load_before": load_before,
        "load_after": os.getloadavg(),
        "cpu_shares": cpu_shares(cpu_before, cpu_times()),
        "data": bench.data,
        "end_to_end": e2e,
        "attempted": bench.attempted,
        "failed": failed,
        "failures": bench.failures[:20],
        "detail": detail,
    }
    if bench.tracer.enabled:
        layer_self = bench.tracer.layer_self_s()
        record["span_self_s"] = layer_self
        record["per_layer"] = layers
        base = latest_untraced(args.workload, detail.get("inputs"))
        if base is not None:
            record["tracing_overhead"] = {
                "untraced_seed": base["seed"],
                "untraced_wall_s": base["end_to_end"]["wall_s"],
                "traced_wall_s": e2e["wall_s"],
                "frac": e2e["wall_s"] / base["end_to_end"]["wall_s"] - 1.0,
            }
        bench.tracer.dump(os.path.join(WORK, "out", f"trace-{args.workload}-seed{args.seed}.json"))
    out_name = f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "out", out_name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    group = "per_layer" if args.trace else "end_to_end"
    values = layers if args.trace else e2e
    metrics = {}
    for m in spec[group]:
        value = float(values.get(m["name"], 0.0))
        if not math.isfinite(value):
            bench.attempt(False, m["name"], "not measured")
            value = 0.0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    failed = len(bench.failures)
    print(json.dumps({"detail": record}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": bench.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
