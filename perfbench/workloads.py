"""The two workloads.  Each takes a ``Bench`` (see ``run.py``) and
returns ``(e2e, layers, detail)``: the end-to-end metric values, the
per-layer metric values (filled only on traced runs) and a free-form
detail dict.

Every workload reports every end-to-end metric.  Its timed *operation*
and *pass* are:

=============  =========================  ==============================
workload       operation                  pass
=============  =========================  ==============================
iterative      one query: builder + noop  the frozen query list, once
serving        one request, due -> sink   one micro-batch (trigger)
=============  =========================  ==============================

Both warm up before the measured window: iterative runs its checked
pass and ``WARM_PASSES`` untimed passes, serving runs the open loop for
``SERVING_WARM_S`` seconds whose requests are checked but not timed.

On iterative, ``wall_s`` is the sum over the query list of each
query's median wall across the timed passes, so one slow query in one
pass does not move it; on serving it is the median trigger.
``latency_p50_s``/``latency_p99_s`` are operation latencies.
``latency_p99_s`` is the highest percentile with ten samples beyond it
(``harness.quantiles``); iterative has 15 to 20 query walls a run, so
there it falls back to the median and reads like ``latency_p50_s``.
``rows_per_s`` is the generated tables' rows divided by ``wall_s``
(iterative, so it carries no signal beyond ``wall_s``), or delivered
requests per second over the measured window (serving, so it follows
the offered rate).

``catalyst.plan_s`` plans each query's final DataFrame once, outside
its timed wall, and sums the phases of that plan's
``QueryPlanningTracker``.  It does not cover plans the builders run
internally (each eager checkpoint, count or quantile cut plans its own
query) nor the noop write's own re-planning.

The Python layer (``python.*``) is read from SQL metrics of Python
exec nodes.  Spark does not record them for the plan a ``foreachBatch``
sink runs, so on serving they read 0 and the layer is measured on
iterative, whose ``q_stage_pipeline`` runs a two-stage Stage pipeline.
``stage.*`` counters come from the benchmark's own stages, so they are
measured on serving.

Per-layer values are medians over passes for iterative.  For serving
they cover the measured window: Spark counts and seconds are totals,
``streaming.*`` phases are medians per micro-batch.
"""

from __future__ import annotations

import datetime as dt
import functools
import gc
import hashlib
import os
import random
import statistics
import threading
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.accumulators import _accumulatorRegistry
from pyspark.sql.streaming import StreamingQueryListener

from cosmos_xenna_spark.operators.pipeline import PipelineSpec, StageSpec, run_pipeline
from cosmos_xenna_spark.operators.stage import Resources, Stage
from cosmos_xenna_spark.oracle import compare, make_duckdb
from cosmos_xenna_spark.queries import load_registry
from cosmos_xenna_spark.streaming import run_stages_streaming, serve
from cosmos_xenna_spark.streaming.serving_source import (
    QueueServingDataSource,
    ServingQueueServer,
)

from harness import quantiles

# Frozen query list: fixpoint kernels (connected components, PageRank,
# k-truss) whose builders run many small jobs and eager checkpoints, so
# per-job overhead dominates, and one Stage pipeline, which
# carries the Python layer.  Kept short so that a run, whose first
# (untimed, checked) pass runs on a cold JVM, stays near a minute on a
# slow 4-core host.
ITERATIVE_QUERIES = (
    "q_er_clusters",
    "q_ktruss",
    "q_dedup_clusters",
    "q_pagerank",
    "q_stage_pipeline",
)

# The benchmark's own tests set PERFBENCH_TINY=1 for a quick run.
TINY = os.environ.get("PERFBENCH_TINY") == "1"
ITERATIVE_SF = 0.001 if TINY else 0.01
# Untimed passes after the checked one, and the fewest timed passes,
# even when they outlast --seconds.  Pass walls fall over the first
# passes as the JIT warms: with one warm pass the third timed pass still
# read 10-25% faster than the first, and whether a run fits three or
# four passes then moves the median.
WARM_PASSES = 2
MIN_PASSES = 3
# serving: offered load, the untimed warm-up of the open loop, and the
# latency past which a request counts as failed.
SERVING_RATE = 1600
SERVING_WARM_S = 0.5 if TINY else 5.0
SERVING_CHUNK = 80
SERVING_LATENCY_LIMIT_S = 10.0
SERVING_VOCAB = "spark stage batch queue serve token hash row window stream".split()

STAGE_METRICS = ("stage.process_s", "stage.batches", "stage.rows_in", "stage.rows_out")


# --------------------------------------------------------------------------
# Stage counters


class StageCounters:
    """Spark accumulators for one stage: seconds inside process_data,
    batches, rows in and rows out."""

    def __init__(self, sc, name: str):
        self.name = name
        self.accs = (sc.accumulator(0.0), sc.accumulator(0), sc.accumulator(0), sc.accumulator(0))

    def ids(self) -> tuple[int, ...]:
        return tuple(a.aid for a in self.accs)

    def values(self) -> dict:
        return dict(zip(STAGE_METRICS, (a.value for a in self.accs)))


class CountedStage(Stage):
    """A Stage whose ``process_data`` times and counts itself.

    Stage instances are cached per worker process across tasks, but a
    worker registers a fresh copy of each accumulator for every task, so
    the instance keeps accumulator ids and looks the live copies up on
    each call."""

    counter_ids: tuple[int, ...] | None = None

    def work(self, pdf: pd.DataFrame) -> pd.DataFrame:
        raise NotImplementedError

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        if not self.counter_ids:
            return self.work(pdf)
        t0 = time.perf_counter()
        out = self.work(pdf)
        values = (time.perf_counter() - t0, 1, len(pdf), len(out))
        for aid, v in zip(self.counter_ids, values):
            acc = _accumulatorRegistry.get(aid)
            if acc is not None:
                acc.add(v)
        return out


def _build_stage(cls, counters: StageCounters | None) -> Stage:
    stage = cls()
    stage.counter_ids = counters.ids() if counters is not None else None
    return stage


def counted_spec(stages, sc, traced: bool) -> tuple[PipelineSpec, list[StageCounters]]:
    counters = [StageCounters(sc, cls.__name__) for cls, _ in stages] if traced else []
    specs = [
        StageSpec(
            functools.partial(_build_stage, cls, counters[i] if traced else None),
            schema,
            name=cls.__name__,
        )
        for i, (cls, schema) in enumerate(stages)
    ]
    return PipelineSpec(stages=specs), counters


def stage_layers(counters: list[StageCounters], base: dict) -> tuple[dict, dict]:
    """Stage counter totals and per-stage values since ``base`` (the
    per-stage values read at the start of the measured window)."""
    per_stage = {c.name: {m: v - base[c.name][m] for m, v in c.values().items()} for c in counters}
    totals = {m: sum(v[m] for v in per_stage.values()) for m in STAGE_METRICS}
    return totals, per_stage


# --------------------------------------------------------------------------
# iterative: a frozen query list over generated tables


def iterative(bench):
    queries, sf = ITERATIVE_QUERIES, ITERATIVE_SF
    spark, tr, probe = bench.spark, bench.tracer, bench.probe
    data_dir = bench.prepare_data(sf)
    registry = load_registry()
    rng = random.Random(bench.seed)
    order = list(queries)
    rng.shuffle(order)

    # Output check, untimed: every query against the DuckDB oracle on
    # the data it ran on (row count, schema, order-insensitive hash).
    con = make_duckdb(data_dir)
    result_rows = {}
    check = {}
    t_check = time.perf_counter()
    for q in order:
        spec = registry[q]
        try:
            res = compare(q, spec.builder(spark, data_dir), spec.oracle, con)
            result_rows[q] = res.n_spark
            check[q] = "ok" if res.ok else f"mismatch: {res.first_diffs[:2]}"
        except Exception:  # a failing query is counted, the run goes on
            check[q] = "raised: " + traceback.format_exc(limit=3)
        bench.attempt(check[q] == "ok", q)
        gc.collect()
    con.close()
    check_s = time.perf_counter() - t_check

    def run_pass(index: int | str) -> list[dict]:
        rng.shuffle(order)
        with tr.span("pass", index=index):
            return [_timed_query(bench, registry[q], data_dir, index) for q in order]

    for k in range(WARM_PASSES):
        run_pass(f"warm{k}")
    passes = []
    t_window = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_window < bench.seconds:
        passes.append(run_pass(len(passes)))

    # A pass with a failed query has no comparable wall; the failure is
    # already counted.  If every pass failed somewhere, time what ran.
    ok_passes = [p for p in passes if all(r["ok"] for r in p)]
    if not ok_passes:
        ok_passes = [[r for r in p if r["ok"]] for p in passes]
    walls = [sum(r["wall_s"] for r in p) for p in ok_passes]
    per_query = {
        q: statistics.median(walls_q)
        for q in queries
        if (walls_q := [r["wall_s"] for p in ok_passes for r in p if r["q"] == q])
    }
    wall = sum(per_query.values())
    lat = quantiles([r["wall_s"] for p in ok_passes for r in p])
    e2e = {
        "wall_s": wall,
        "rows_per_s": sum(bench.data["rows"].values()) / wall,
        "latency_p50_s": lat["p50"],
        "latency_p99_s": lat["p_hi"],
    }
    layers = {}
    if tr.enabled:
        layers = _median_pass_layers(ok_passes)
    detail = {
        "inputs": bench.data["fingerprint"],
        "data_dir": data_dir,
        "cores": probe.cores,
        "queries": list(queries),
        "check": check,
        "check_s": check_s,
        "result_rows": result_rows,
        "passes": len(passes),
        "pass_walls_s": walls,
        "latency": lat,
        "per_query": per_query,
    }
    if tr.enabled:
        detail["traced_queries"] = [r for p in ok_passes for r in p]
    return e2e, layers, detail


def _timed_query(bench, spec, data_dir: str, pass_index: int | str) -> dict:
    """Time one query: one clock pair from the builder call to the end of
    its noop write.  On traced runs the status-store mark and the plan
    probe between the two run inside that pair and are taken out of it."""
    spark, tr, probe = bench.spark, bench.tracer, bench.probe
    spark.sparkContext.setJobGroup(f"perfbench:{spec.name}:{pass_index}", spec.name)
    rec = {"q": spec.name, "ok": True}
    with tr.span("query", q=spec.name) as qspan:
        m0 = probe.mark() if tr.enabled else None
        probe_s = 0.0
        t_start = time.perf_counter()
        try:
            with tr.span("queries.build") as build:
                df = spec.builder(spark, data_dir)
            if tr.enabled:
                t_probe = time.perf_counter()
                with tr.span("probe"):
                    m1 = probe.mark()
                    plan_s = probe.plan_s(df)
                probe_s = time.perf_counter() - t_probe
            with tr.span("execute") as execute:
                df.write.format("noop").mode("overwrite").save()
            t_end = time.perf_counter()
        except Exception:
            rec["ok"] = False
            bench.attempt(False, spec.name, traceback.format_exc(limit=3))
            return rec
        rec["wall_s"] = t_end - t_start - probe_s
        bench.attempt(True, spec.name)
        del df
        gc.collect()
        if tr.enabled:
            rec["build_s"] = build["end"] - build["start"]
            rec["execute_s"] = execute["end"] - execute["start"]
            rec["plan_s"] = plan_s
            counts = probe.since(m0)
            counts.update(probe.cache_state())
            counts["queries.build_jobs"] = m1["job"] - m0["job"]
            counts["spark.idle_core_s"] = rec["wall_s"] * probe.cores - counts["executor.run_s"]
            rec.update(counts)
            qspan["attrs"].update(counts)
    return rec


_SUMMED = (
    "queries.build_jobs", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.idle_core_s", "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.bytes", "codegen.compile_s", "codegen.compiles", "python.total_s",
    "python.boot_s", "python.init_s", "python.bytes_sent", "python.bytes_received",
    "pipeline.python_nodes",
)


def _median_pass_layers(passes: list[list[dict]]) -> dict:
    per_pass = []
    for p in passes:
        d = {k: sum(r[k] for r in p) for k in _SUMMED}
        d["queries.build_s"] = sum(r["build_s"] for r in p)
        d["catalyst.plan_s"] = sum(r["plan_s"] for r in p)
        d["cache.storage_used_bytes"] = max(r["cache.storage_used_bytes"] for r in p)
        d["cache.rdd_blocks"] = max(r["cache.rdd_blocks"] for r in p)
        per_pass.append(d)
    return {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}


# --------------------------------------------------------------------------
# serving: open-loop requests through the queue source and a Stage chain


class Tokenize(CountedStage):
    batch_size = 256

    def work(self, pdf):
        out = pdf.copy()
        out["n_tokens"] = [len(t.split()) for t in pdf["text"]]
        return out


class Digest(CountedStage):
    batch_size = 256

    def work(self, pdf):
        out = pdf.copy()
        out["digest"] = [hashlib.sha256(t.encode()).hexdigest() for t in pdf["text"]]
        return out


SERVING_CHAIN = (
    (Tokenize, "id long, text string, n_tokens long"),
    (Digest, "id long, text string, n_tokens long, digest string"),
)


class _Progress(StreamingQueryListener):
    def __init__(self):
        self.events = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append(
            {
                "batch": p.batchId,
                "rows": p.numInputRows,
                "start": _epoch_s(p.timestamp),
                "durations_ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def serving_requests(seed: int, n: int) -> list[tuple[int, str]]:
    rng = np.random.default_rng(seed)
    lengths = rng.integers(4, 41, n)
    words = np.asarray(SERVING_VOCAB, dtype=object)[rng.integers(0, len(SERVING_VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    return [(seed * 10**7 + i, " ".join(words[e - k : e])) for i, (e, k) in enumerate(zip(ends, lengths))]


def serving(bench):
    spark, tr, probe = bench.spark, bench.tracer, bench.probe
    interval = SERVING_CHUNK / SERVING_RATE
    n_warm = int(SERVING_WARM_S / interval)
    n_chunks = n_warm + max(1, int(bench.seconds / interval))
    requests = serving_requests(bench.seed, n_chunks * SERVING_CHUNK)
    expected = {i: (len(t.split()), hashlib.sha256(t.encode()).hexdigest()) for i, t in requests}
    chunks = [requests[k * SERVING_CHUNK : (k + 1) * SERVING_CHUNK] for k in range(n_chunks)]

    received: list[tuple[float, list]] = []  # (perf_counter at sink, rows)
    sink_spans: list[tuple[float, float, int]] = []
    listener = _Progress()
    spark.streams.addListener(listener)
    server = ServingQueueServer()
    spec, counters = counted_spec(SERVING_CHAIN, spark.sparkContext, tr.enabled)
    mark = None
    try:
        q = server.queue("requests")
        spark.dataSource.register(QueueServingDataSource)
        opts = server.options("requests")
        opts["maxrowsperbatch"] = "20000"
        stream = spark.readStream.format("cxs_serving").schema("id long, text string").options(**opts).load()
        chain = run_stages_streaming(stream, spec)

        def sink(df, batch_id):
            t0 = time.perf_counter()
            pdf = df.select("id", "n_tokens", "digest").toPandas()
            rows = list(zip(pdf["id"].tolist(), pdf["n_tokens"].tolist(), pdf["digest"].tolist()))
            t1 = time.perf_counter()
            received.append((t1, rows))
            sink_spans.append((t0, t1, len(rows)))

        handle = serve(chain, sink, query_name="perfbench_serving")
        try:
            # Warm the query (first micro-batch plan, Python workers).
            q.put([(-1, "warm up request")])
            handle.processAllAvailable()
            received.clear()
            sink_spans.clear()
            listener.events.clear()
            pushes: list[tuple[float, float]] = []  # (due, pushed)
            with tr.span("pass", index=0) as window:
                parent = tr.current()
                t_start = time.perf_counter()
                t_measure = t_start + n_warm * interval

                def generate():
                    for k, chunk in enumerate(chunks):
                        due = t_start + k * interval
                        wait = due - time.perf_counter()
                        if wait > 0:
                            time.sleep(wait)
                        t = time.perf_counter()
                        q.put(chunk)
                        pushes.append((due, t))
                        if tr.enabled:
                            tr.add("loadgen.push", t, time.perf_counter(), parent, rows=len(chunk))

                gen = threading.Thread(target=generate, name="perfbench-loadgen")
                gen.start()
                if tr.enabled:
                    time.sleep(max(0.0, t_measure - time.perf_counter()))
                    mark = probe.mark()
                    stage_base = {c.name: c.values() for c in counters}
                gen.join()
                deadline = time.perf_counter() + SERVING_LATENCY_LIMIT_S + 5
                while sum(len(r) for _, r in received) < len(requests) and time.perf_counter() < deadline:
                    time.sleep(0.05)
                handle.processAllAvailable()
        finally:
            handle.stop()
            handle.awaitTermination(30)
            spark.streams.resetTerminated()
    finally:
        server.shutdown()
        spark.streams.removeListener(listener)

    # Correctness of every request; latency of those due in the measured
    # window, timed from when they were due.
    due_of = {}
    for k, chunk in enumerate(chunks):
        for rid, _ in chunk:
            due_of[rid] = t_start + k * interval
    seen: dict[int, int] = {}
    latencies = []
    n_bad = 0
    for t_sink, rows in received:
        for rid, n_tokens, digest in rows:
            seen[rid] = seen.get(rid, 0) + 1
            if rid not in expected or expected[rid] != (n_tokens, digest):
                n_bad += 1
                continue
            lat = t_sink - due_of[rid]
            if due_of[rid] >= t_measure:
                latencies.append(lat)
            if lat > SERVING_LATENCY_LIMIT_S:
                n_bad += 1
    lost = sum(1 for rid in expected if rid not in seen)
    dup = sum(c - 1 for c in seen.values() if c > 1)
    failures = n_bad + lost + dup
    for _ in range(len(expected) - min(failures, len(expected))):
        bench.attempt(True, "request")
    for _ in range(min(failures, len(expected))):
        bench.attempt(False, "request")

    # Progress events arrive asynchronously; keep the measured window's.
    epoch_to_perf = time.time() - time.perf_counter()
    batches = [e for e in listener.events if e["rows"] > 0 and e["start"] - epoch_to_perf >= t_measure - 0.01]
    triggers = [e["durations_ms"].get("triggerExecution", 0) / 1e3 for e in batches]
    lat = quantiles(latencies)
    span_s = max(t for t, _ in received) - t_measure if received else float("nan")
    e2e = {
        "wall_s": statistics.median(triggers) if triggers else float("nan"),
        "rows_per_s": len(latencies) / span_s,
        "latency_p50_s": lat["p50"],
        "latency_p99_s": lat["p_hi"],
    }
    lags = [t - due for due, t in pushes]
    detail = {
        "inputs": {"seed": bench.seed, "rate": SERVING_RATE, "chunk": SERVING_CHUNK, "requests": len(expected)},
        "warm_s": n_warm * interval,
        "timed_requests": len(latencies),
        "triggers_s": triggers,
        "offered_rows_per_s": SERVING_RATE,
        "chunk_rows": SERVING_CHUNK,
        "latency_limit_s": SERVING_LATENCY_LIMIT_S,
        "requests": len(expected),
        "micro_batches": len(batches),
        "latency": lat,
        "lost": lost,
        "duplicated": dup,
        "wrong_or_late": n_bad,
        "loadgen_lag_median_s": statistics.median(lags),
        "loadgen_lag_max_s": max(lags),
    }
    layers = {}
    if tr.enabled:
        layers = probe.since(mark)
        totals, per_stage = stage_layers(counters, stage_base)
        layers.update(totals)
        detail["per_stage"] = per_stage
        layers.update(_streaming_layers(batches))
        layers["loadgen.lag_s"] = statistics.median(lags)
        layers["spark.idle_core_s"] = (span_s * probe.cores) - layers["executor.run_s"]
        _streaming_spans(tr, window["id"], batches, sink_spans)
    return e2e, layers, detail


_STREAM_PHASES = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.latest_offset_s": "latestOffset",
    "streaming.get_batch_s": "getBatch",
    "streaming.plan_s": "queryPlanning",
    "streaming.add_batch_s": "addBatch",
    "streaming.commit_s": "commitOffsets",
}


def _streaming_layers(batches: list[dict]) -> dict:
    out = {"streaming.batches": len(batches)}
    out["streaming.rows_per_batch"] = statistics.median(e["rows"] for e in batches) if batches else 0
    for metric, phase in _STREAM_PHASES.items():
        vals = [e["durations_ms"].get(phase, 0) / 1e3 for e in batches]
        out[metric] = statistics.median(vals) if vals else 0.0
    return out


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _streaming_spans(tr, parent: int, batches: list[dict], sink_spans) -> None:
    """Rebuild one span per micro-batch from its progress event (trigger
    start and duration), and one per sink call inside it."""
    epoch_to_perf = time.time() - time.perf_counter()
    for e in batches:
        start = e["start"] - epoch_to_perf
        end = start + e["durations_ms"].get("triggerExecution", 0) / 1e3
        s = tr.add("streaming.batch", start, end, parent, batch=e["batch"], rows=e["rows"])
        for t0, t1, n in sink_spans:
            if start <= t0 and t1 <= end + 0.05:
                tr.add("sink", t0, min(t1, end), s["id"], rows=n)


WORKLOADS = {
    "iterative": iterative,
    "serving": serving,
}
