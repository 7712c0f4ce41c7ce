"""Trace tooling for the benchmark: span recorder, self-time report,
Spark event-log parser and process memory probe.

Spans are recorded by the benchmark's own code around its calls into
the engine's modules (``Tracer.span``), or by temporarily wrapping a
module's public function (``Tracer.wrap``) so calls the engine makes
between its own layers (api -> serving -> modelstore) are seen too.
Spans stay in memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing.

    A span has a name, start and end (``time.perf_counter`` seconds),
    the id of the span open on the same thread when it started
    (``parent``) and a request id shared by every span of one request:
    a root span's request is its own id unless the caller names one.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        if request is None:
            request = parent["request"] if parent else f"r{sid}"
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, request_of=None):
        """Replace ``owner.attr`` (a module function or a class's method)
        by a span-recording wrapper; returns a callable that restores the
        original. ``request_of(args)`` names the span's request, for
        calls that continue a request begun on another thread."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            request = request_of(args) if request_of else None
            with self.span(name, request=request):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": self.spans,
                    "self_time": self_times(self.spans),
                    "layer_self_s": layer_self_times(self.spans),
                },
                fh,
                indent=1,
            )


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total time, and self time (duration minus
    the part of its interval that child spans cover)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += dur
        row["self_s"] += dur - _union(kids)
    return out


def self_time_report(spans: list[dict]) -> list[str]:
    """The 25 span names with the most self time, one line each."""
    rows = sorted(self_times(spans).items(), key=lambda kv: -kv[1]["self_s"])
    out = ["self time by span (calls, total s, self s):"]
    for name, r in rows[:25]:
        out.append(f"  {name:<48} {r['calls']:5d} {r['total_s']:9.3f} {r['self_s']:9.3f}")
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer (the span name's first component)."""
    out: dict[str, float] = {}
    for name, row in self_times(spans).items():
        layer = name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + row["self_s"]
    return out


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no values")
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) from the frame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[p] = (
            float(opt.get().durationMs()) if opt is not None and opt.isDefined() else 0.0
        )
    return out


# -- Spark event log -------------------------------------------------------


def parse_event_log(path: str) -> dict:
    """Jobs (with job group, submit/end ms and stage ids) and per-stage
    task totals from one uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"],
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stages.setdefault(sid, _new_stage())["completed"] = True
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                st["tasks"] += 1
                st["task_ms"] += info.get("Finish Time", 0) - info.get("Launch Time", 0)
                st["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                st["shuffle_write"] += wr.get("Shuffle Bytes Written", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {
        "completed": False,
        "tasks": 0,
        "task_ms": 0,
        "shuffle_read": 0,
        "shuffle_write": 0,
        "spill": 0,
    }


def scheduler_stats(
    log: dict, windows: list[tuple[float, float]], cores: int, per: float = 1.0
) -> dict[str, tuple[float, str]]:
    """Scheduler metrics over the jobs submitted inside ``windows``
    (epoch seconds), divided by ``per`` (e.g. the number of passes):
    stage and task counts, task time, shuffle and spill MB, the driver
    gap (window time no job covers), and parallel efficiency (task
    time / (wall * cores))."""
    wall = sum(e - s for s, e in windows)
    chosen = [
        j
        for j in log["jobs"].values()
        if j["end"] is not None
        and any(s <= j["start"] / 1000.0 <= e for s, e in windows)
    ]
    stage_ids = {sid for j in chosen for sid in j["stages"]}
    st = [log["stages"][s] for s in stage_ids if s in log["stages"]]
    covered = 0.0
    for s, e in windows:
        covered += _union(
            [
                (max(s, j["start"] / 1000.0), min(e, j["end"] / 1000.0))
                for j in chosen
                if j["end"] / 1000.0 > s and j["start"] / 1000.0 < e
            ]
        )
    task_s = sum(x["task_ms"] for x in st) / 1000.0
    mb = 1024.0 * 1024.0 * per
    return {
        "spark.jobs": (len(chosen) / per, "count"),
        "spark.stages": (sum(1 for x in st if x["completed"]) / per, "count"),
        "spark.tasks": (sum(x["tasks"] for x in st) / per, "count"),
        "spark.task_s": (task_s / per, "s"),
        "spark.driver_gap_s": (max(wall - covered, 0.0) / per, "s"),
        "spark.shuffle_read_mb": (sum(x["shuffle_read"] for x in st) / mb, "MB"),
        "spark.shuffle_write_mb": (sum(x["shuffle_write"] for x in st) / mb, "MB"),
        "spark.spill_mb": (sum(x["spill"] for x in st) / mb, "MB"),
        "spark.parallel_eff": (task_s / (wall * cores) if wall > 0 else 0.0, "ratio"),
    }


def group_job_counts(log: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for j in log["jobs"].values():
        if j["group"]:
            out[j["group"]] = out.get(j["group"], 0) + 1
    return out


# -- memory ----------------------------------------------------------------


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak RSS (VmHWM) of this process plus the JVM and the JVM's
    child processes (PySpark worker daemons), in MB."""
    kb = _hwm_kb(os.getpid())
    if jvm_pid is not None:
        kb += _hwm_kb(jvm_pid) + sum(_hwm_kb(c) for c in _children(jvm_pid))
    return kb / 1024.0
