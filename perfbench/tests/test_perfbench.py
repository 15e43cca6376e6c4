"""The benchmark's own tests.

Run from the repository root::

    python3 -m pytest perfbench/tests -q

The unit tests need no Spark.  The run tests make tiny runs of every
workload (PERFBENCH_TINY=1: sf0.001 tables, a one-second
serving window) in subprocesses, once untraced and once traced.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import compare  # noqa: E402
import datagen  # noqa: E402
from harness import ACCOUNTING_TOLERANCE, Tracer, parse_sql_metric, quantiles  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SHUFFLING_QUERIES = ("q_pagerank", "q_ktruss", "q_dedup_clusters", "q_er_clusters")


# ---------------------------------------------------------------- unit tests


def test_parse_sql_metric_formats():
    assert parse_sql_metric("100,000") == 100000
    assert parse_sql_metric("0 ms") == 0
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n3.8 s (938 ms, 948 ms)") == 3.8
    assert parse_sql_metric("total (min, med, max)\n1565.1 KiB (391.3 KiB)") == pytest.approx(1565.1 * 1024)
    assert parse_sql_metric("0.0 B") == 0
    with pytest.raises(ValueError):
        parse_sql_metric("3 furlongs")


def test_quantiles_keep_ten_samples_beyond_the_high_percentile():
    for n in (3, 20, 100, 1000, 5000):
        xs = [float(i) for i in range(n)]
        q = quantiles(xs)
        beyond = sum(1 for x in xs if x > q["p_hi"])
        assert q["p_hi"] >= q["p50"]
        assert beyond >= 10 or q["p_hi"] == xs[n // 2]
        assert q["p_hi_level"] <= 0.99
    assert quantiles([float(i) for i in range(1000)])["p_hi"] == 989.0
    assert quantiles([float(i) for i in range(5000)])["p_hi"] == 4950.0


def test_self_time_subtracts_covered_child_time():
    tr = Tracer(True, "t")
    root = tr.add("pass", 0.0, 10.0, None)
    tr.add("query", 1.0, 4.0, root["id"])
    tr.add("query", 3.0, 6.0, root["id"])  # overlaps the first
    tr.add("sink", 9.0, 12.0, root["id"])  # runs past its parent
    st = tr.self_times()
    assert st[root["id"]] == pytest.approx(10.0 - 5.0 - 1.0)
    assert all(v >= 0 for v in st.values())


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "t")
    with tr.span("pass") as s:
        assert s is None
    assert tr.spans == []


def test_datagen_is_seeded_and_regenerates_on_a_bad_fingerprint(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert datagen.ensure(a, 0.001, 5) is True
    assert datagen.ensure(a, 0.001, 5) is False
    datagen.ensure(b, 0.001, 5)
    datagen.ensure(c, 0.001, 6)
    for t in ("lineitem", "documents", "embeddings"):
        fa, fb, fc = (open(os.path.join(d, f"{t}.parquet"), "rb").read() for d in (a, b, c))
        assert fa == fb and fa != fc
    assert datagen.on_disk_rows(a) == datagen.row_counts(0.001)
    os.remove(os.path.join(a, "orders.parquet"))
    assert datagen.ensure(a, 0.001, 5) is True
    assert datagen.on_disk_rows(a) == datagen.row_counts(0.001)


def _record(nproc=4, cpus="4", inputs=None, wall=1.0):
    return {
        "workload": "iterative",
        "host": {"nproc": nproc, "spark_graft_cpus": cpus},
        "detail": {"inputs": inputs or {"sf": 0.01, "seed": 1}},
        "end_to_end": {m["name"]: wall for m in SPEC["end_to_end"]},
    }


def test_compare_refuses_pairs_that_are_not_like_for_like(tmp_path):
    base = tmp_path / "base.json"
    base.write_text(json.dumps(_record()))
    for other in (_record(nproc=32), _record(cpus="32"), _record(inputs={"sf": 1.0, "seed": 1})):
        new = tmp_path / "new.json"
        new.write_text(json.dumps(other))
        assert compare.main([str(base), str(new)]) == 3
    new.write_text(json.dumps(_record(wall=1.5)))
    assert compare.main([str(base), str(new)]) == 0


# ----------------------------------------------------------------- run tests


def _run(workload: str, trace: int, cwd: str = ROOT, seconds: str = "1"):
    env = dict(os.environ, PERFBENCH_TINY="1")
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", seconds, "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


@pytest.fixture(scope="module")
def tiny_runs():
    out = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            proc = _run(w, trace)
            assert proc.returncode == 0, proc.stderr[-3000:]
            lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
            out[w, trace] = (json.loads(lines[-2])["detail"], json.loads(lines[-1]))
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_emits_every_metric_with_its_unit(tiny_runs, workload, trace):
    _, result = tiny_runs[workload, trace]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    group = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in group}
    for m in group:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_self_times_are_not_negative(tiny_runs, workload):
    detail, _ = tiny_runs[workload, 1]
    trace_file = os.path.join(BENCH_DIR, ".work", "out", f"trace-{workload}-seed3.json")
    with open(trace_file) as f:
        spans = json.load(f)["spans"]
    assert spans and all(s["end"] >= s["start"] for s in spans)
    assert all(s["self_s"] >= -1e-9 for s in spans)
    assert all(v >= -1e-9 for v in detail["span_self_s"].values())


def test_query_parts_account_for_its_wall(tiny_runs):
    detail, _ = tiny_runs["iterative", 1]
    tol = ACCOUNTING_TOLERANCE
    cores = detail["detail"]["cores"]
    for r in detail["detail"]["traced_queries"]:
        # wall_s is one clock pair around the query less the probe; the
        # build and execute spans must cover it.
        wall = r["wall_s"]
        assert abs(wall - (r["build_s"] + r["execute_s"])) <= tol * wall, r["q"]
        # Executor time attributed to the query fits in its wall on every
        # core, i.e. spark.idle_core_s = wall x cores - executor.run_s is
        # not negative.
        assert r["executor.run_s"] / cores <= wall * (1 + tol), r["q"]
        # The plan probe runs outside the wall; the noop write re-plans
        # the same logical plan inside execute_s.
        assert 0 < r["plan_s"] <= r["execute_s"] * (1 + tol), r["q"]


def test_build_time_shuffles_are_counted(tiny_runs):
    detail, _ = tiny_runs["iterative", 1]
    by_query = {r["q"]: r for r in detail["detail"]["traced_queries"]}
    for q in SHUFFLING_QUERIES:
        assert by_query[q]["shuffle.write_bytes"] > 0, q
        assert by_query[q]["queries.build_jobs"] > 0, q


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run("iterative", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
