"""The benchmark's own tests: trace tooling units, input determinism, the
BENCHMARK.json contract, and one smoke run per workload and mode.

    python3 -m pytest perfbench -q

The smoke runs start a Spark JVM each (about 20-60 s apiece on 4
cores); they assert that every metric is emitted with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import layers
from perfbench.inputs import make_tables
from perfbench.trace import Tracer, quantile, scheduler_stats, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "name": "a", "parent": None, "request": "r", "start": 0.0, "end": 10.0},
        {"id": 2, "name": "b", "parent": 1, "request": "r", "start": 1.0, "end": 4.0},
        {"id": 3, "name": "b", "parent": 1, "request": "r", "start": 3.0, "end": 5.0},
    ]
    st = self_times(spans)
    assert st["a"]["self_s"] == pytest.approx(6.0)  # 10 - |[1, 5]|
    assert st["b"]["calls"] == 2 and st["b"]["self_s"] == pytest.approx(5.0)


def test_tracer_nesting_request_ids_and_wrap_restore():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    t = Tracer(True)
    restore = t.wrap(mod, "f", "layer.f")
    with t.span("outer", request="q1"):
        assert mod.f(1) == 2
    restore()
    assert mod.f(1) == 2 and len(t.spans) == 2
    inner, outer = t.spans
    assert inner["parent"] == outer["id"] and inner["request"] == outer["request"] == "q1"
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_quantile_matches_linear_interpolation():
    assert quantile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert quantile([0.0, 10.0], 0.9) == pytest.approx(9.0)
    assert quantile([5.0], 0.9) == 5.0


def test_scheduler_stats_driver_gap_and_efficiency():
    log = {
        "jobs": {
            0: {"group": "g", "start": 1000, "end": 2000, "stages": [0]},
            1: {"group": "g", "start": 1500, "end": 3000, "stages": [1]},
            2: {"group": "h", "start": 9000, "end": 9500, "stages": [2]},
        },
        "stages": {
            0: {"completed": True, "tasks": 2, "task_ms": 1000, "shuffle_read": 0,
                "shuffle_write": 1048576, "spill": 0},
            1: {"completed": True, "tasks": 4, "task_ms": 3000, "shuffle_read": 1048576,
                "shuffle_write": 0, "spill": 0},
            2: {"completed": True, "tasks": 1, "task_ms": 500, "shuffle_read": 0,
                "shuffle_write": 0, "spill": 0},
        },
    }
    s = scheduler_stats(log, [(0.5, 4.5)], cores=4)
    assert s["spark.jobs"] == (2, "count")
    assert s["spark.tasks"] == (6, "count")
    assert s["spark.driver_gap_s"][0] == pytest.approx(4.0 - 2.0)
    assert s["spark.parallel_eff"][0] == pytest.approx(4.0 / (4.0 * 4))
    assert s["spark.shuffle_write_mb"] == (1.0, "MB")


def test_exceptions_count_as_failed_reads_and_runs():
    """A server that drops every connection: each read and each training
    run the clients attempt is recorded as failed, none is lost."""
    import socketserver
    import threading

    from perfbench import serve

    class Drop(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.recv(65536)  # read the request, close unanswered

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Drop)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        http = serve.Http(srv.server_address[1])
        expected = {k: [] for k in serve.ROUTES}
        reads, runs, _, _ = serve.window(http, 0.3, 1, 1, expected)
    finally:
        srv.shutdown()
        srv.server_close()
    assert reads and runs
    assert not any(r["ok"] for r in reads + runs)


def test_inputs_depend_only_on_seed():
    a, b, c = make_tables(5, 0.001), make_tables(5, 0.001), make_tables(6, 0.001)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert len(a["lineitem"]) == 6000 and len(a["supplier"]) == 10


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "iterative", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


ITERATIVE_EXTRAS = ["catalog.load_table_s"] + [
    f"query.{n}.{k}"
    for n in ("pagerank_copurchase",)
    for k in ("build_s", "build_jobs", "run_s")
]
SERVING_EXTRAS = [
    "api.overhead_s",
    "feature_views.training_features_s",
    "serialization.serialize_rows_s",
    "runs.queue_s",
    "runs.run_training_s",
    "runs.train_load_model_s",
    "modelstore.score_latest_s",
    "modelstore.save_model_s",
] + [
    f"serving.{f}_s"
    for f in ("price_history", "explore_rows", "timeseries", "table_stats",
              "forecast", "rate_limit_stats", "feature_status")
] + [
    f"api.{r}_s"
    for r in ("price-history", "db-explorer", "timeseries", "db-status",
              "forecast", "rate-limits", "feature-status")
]


@pytest.mark.parametrize("workload", ["iterative", "serving"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    res, report = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = layers.PER_LAYER if trace else layers.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
        return
    assert any(line.startswith("tracing overhead:") for line in report)
    extras = ITERATIVE_EXTRAS if workload == "iterative" else SERVING_EXTRAS
    emitted = {line.split()[1] for line in report if line.startswith("layer ")}
    assert set(extras) <= emitted
    trace_file = os.path.join(HERE, ".work", f"trace-{workload}-3.json")
    with open(trace_file) as fh:
        doc = json.load(fh)
    assert doc["spans"] and doc["self_time"] and doc["layer_self_s"]
