"""The ``serving`` workload: the HTTP API (``api.make_server``) over
domain views built from the seed, under a closed loop of two reader
clients and one writer client on a fixed clock.

Readers cycle through the seven read routes, each once per cycle in a
seeded order, with the routes' default arguments; every body must
equal the direct ``serving.*`` call with the same arguments, serialized
the way the route serializes it
(``functions.serialization.serialize_rows``). The writer triggers a
training run (``POST /api/training/trigger``) and polls its status until
it ends; every run must end in ``success`` and leave model artifacts
that ``modelstore.load_model`` loads with finite metrics. An exception
in a client counts as a failed read or run.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

from perfbench.layers import result_metrics
from perfbench.trace import (
    Tracer,
    catalyst_phases,
    group_job_counts,
    median,
    parse_event_log,
    peak_rss_mb,
    quantile,
    scheduler_stats,
    self_time_report,
)

UTC = dt.timezone.utc
CLOCK = dt.datetime(2026, 2, 15, 6, 0, tzinfo=UTC)  # domain data ends 2026-02-15
NAIVE_CLOCK = CLOCK.replace(tzinfo=None)
SECRET = "perfbench-secret"
READERS = 2
CORES = 4
MODELS = ("model_epex", "model_load")
# carries the client's request id to the server thread's spans
REQUEST_HEADER = "X-Perfbench-Request"
# training runs a timed window holds at least: one run under read load
# varies by about a quarter with the reads it overlaps, so pass_s is a
# median of three
MIN_RUNS = 3

# route -> the serving call it makes, with the default query parameters
# of api.py; the explorer and the chart read the price table. A reader
# reads each route once per cycle, in a seeded order. The even mix is an
# assumption: no call pattern of the reference dashboard is known.
ROUTES: dict[str, tuple] = {
    "price-history": ("price_history", 24),
    "db-explorer": ("explore_rows", "entsoe_day_ahead_prices", 100, 0),
    "timeseries": ("timeseries", "entsoe_day_ahead_prices", "7 days", 500),
    "db-status": ("table_stats",),
    "forecast": ("forecast",),
    "rate-limits": ("rate_limit_stats",),
    "feature-status": ("feature_status",),
}


def url_of(req: tuple) -> str:
    fn = req[0]
    if fn == "price_history":
        return f"/api/price-history?hours={req[1]}"
    if fn == "explore_rows":
        return f"/api/db-explorer/rows/{req[1]}?limit={req[2]}&offset={req[3]}"
    if fn == "timeseries":
        h = urllib.parse.quote(req[2])
        return f"/api/timeseries/{req[1]}?horizon={h}&points={req[3]}"
    return {
        "table_stats": "/api/db-status",
        "forecast": "/api/forecast",
        "rate_limit_stats": "/api/rate-limits",
        "feature_status": "/api/feature-status",
    }[fn]


def direct(spark, model_dir: str, req: tuple, tracer: Tracer, sc=None, i: int = 0):
    """The route's body computed by calling ``serving`` directly:
    returns (body, DataFrame or None, build seconds, serialize seconds).
    With ``sc``, the call runs under job group ``build:<i>`` and the
    serialization under ``run:<i>``."""
    from bigdatasmallprice_spark import serving
    from bigdatasmallprice_spark.functions import serialization

    fn = req[0]
    if sc is not None:
        sc.setJobGroup(f"build:{i}", fn)
    t0 = time.perf_counter()
    with tracer.span(f"serving.{fn}"):
        if fn == "forecast":
            body = serving.forecast(spark, model_dir)
            return body, None, time.perf_counter() - t0, 0.0
        if fn == "price_history":
            df = serving.price_history(spark, req[1])
        elif fn == "explore_rows":
            df = serving.explore_rows(spark, req[1], req[2], req[3])
        elif fn == "timeseries":
            df = serving.timeseries(spark, req[1], NAIVE_CLOCK, req[2], chart_points=req[3])
        elif fn == "table_stats":
            df = serving.table_stats(spark, serving.present_time_tables(spark))
        elif fn == "rate_limit_stats":
            df = serving.rate_limit_stats(spark, NAIVE_CLOCK)
        else:
            df = serving.feature_status(spark)
        t1 = time.perf_counter()
        if sc is not None:
            sc.setJobGroup(f"run:{i}", fn)
        rows = serialization.serialize_rows(df)
        t2 = time.perf_counter()
    if fn == "feature_status":
        # the route reshapes the one-row frame (api._feature_status)
        r = rows[0]
        rows = {
            "row_count": r["row_count"] or 0,
            "oldest": r["oldest"],
            "newest": r["newest"],
            "rows_with_lags": r["rows_with_lags"] or 0,
        }
    return rows, df, t1 - t0, t2 - t1


def domain_inputs(seed: int) -> dict:
    """Seeded domain tables (tests/domain_data.py) plus an api_call_log."""
    from tests.domain_data import make_domain_tables

    tables = make_domain_tables(seed)
    for pdf in tables.values():
        pdf["time"] = pdf["time"].map(lambda t: t.replace(tzinfo=None))
    rng = random.Random(seed)
    log = [
        (
            i,
            rng.choice(("entsoe", "open-meteo", "bafu", "ekz")),
            NAIVE_CLOCK - dt.timedelta(minutes=rng.randrange(0, 48 * 60)),
            rng.choice((200, 200, 200, 429, 500)),
            rng.random() < 0.1,
            rng.randrange(40, 900),
        )
        for i in range(400)
    ]
    return {"tables": tables, "log": log}


def start_server(spark, inputs: dict, model_dir: str):
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.api import make_server
    from bigdatasmallprice_spark.plans.feature_views import register_views

    sdfs = {n: spark.createDataFrame(pdf) for n, pdf in inputs["tables"].items()}
    sdfs["api_call_log"] = spark.createDataFrame(
        inputs["log"],
        "id long, source string, called_at timestamp, status_code int, "
        "was_rate_limited boolean, response_ms int",
    ).withColumn("date_fetched", F.to_date("called_at").cast("string"))
    register_views(spark, sdfs)
    server = make_server(spark, model_dir, SECRET, clock=lambda: CLOCK)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


class Http:
    def __init__(self, port: int):
        from bigdatasmallprice_spark.functions.auth import jwt_encode_py

        self.base = f"http://127.0.0.1:{port}"
        self.token = jwt_encode_py("perfbench", int(CLOCK.timestamp()) + 3600, SECRET)

    def call(self, path: str, method: str = "GET", request: str = ""):
        """(status, parsed body or None)."""
        req = urllib.request.Request(self.base + path, method=method)
        req.add_header("Authorization", f"Bearer {self.token}")
        req.add_header(REQUEST_HEADER, request)
        data = b"{}" if method == "POST" else None
        try:
            with urllib.request.urlopen(req, data=data, timeout=150) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, None


def train_once(http: Http) -> dict:
    """Trigger one training run and poll it to its end. A run fails
    unless it ends in ``success``; an exception (timeout, dropped
    connection, unparsable body) fails it too."""
    t0 = time.perf_counter()
    try:
        code, body = http.call("/api/training/trigger", "POST")
        if code != 200:
            return {"ok": False, "s": time.perf_counter() - t0, "tasks": {}}
        rid = urllib.parse.quote(body["dag_run_id"], safe="")
        while True:
            code, st = http.call(f"/api/training/status/{rid}")
            if code != 200 or st["state"] in ("success", "failed"):
                break
            time.sleep(0.1)
        dur = time.perf_counter() - t0
        _, tasks = http.call(f"/api/training/tasks/{rid}")
        return {
            "ok": code == 200 and st["state"] == "success",
            "s": dur,
            "tasks": {k: v["duration"] for k, v in (tasks or {}).get("tasks", {}).items()},
        }
    except Exception:
        return {"ok": False, "s": time.perf_counter() - t0, "tasks": {}}


def read_once(http: Http, req: tuple, want, request: str) -> bool:
    """One read; it succeeds if it answers 200 with the expected body.
    An exception (timeout, dropped connection, unparsable body) fails it."""
    try:
        code, body = http.call(url_of(req), request=request)
    except Exception:
        return False
    return code == 200 and body == want


def artifacts_ok(model_dir: str) -> bool:
    from bigdatasmallprice_spark import modelstore

    for name in MODELS:
        path = modelstore.find_latest(model_dir, name)
        if path is None:
            return False
        doc = modelstore.load_model(path)
        vals = [
            v
            for m in doc.get("metrics") or []
            for k, v in m.items()
            if k in ("mae", "rmse")
        ]
        if not vals or not all(isinstance(v, float) and math.isfinite(v) for v in vals):
            return False
    return True


def window(http: Http, seconds: float, min_runs: int, seed: int, expected: dict):
    """The timed window: READERS reader clients and one writer client,
    closed loop. The writer starts training runs until ``seconds`` have
    passed and it has made ``min_runs``; the readers read until the
    writer's last run has ended, so every run is under the same read
    load. Returns (reads, training runs, read seconds, epoch start).
    """
    reads: list[dict] = []
    runs: list[dict] = []
    lock = threading.Lock()
    writer_done = threading.Event()
    epoch0 = time.time()
    t_start = time.perf_counter()

    def writer():
        try:
            while len(runs) < min_runs or time.perf_counter() - t_start < seconds:
                r = train_once(http)
                with lock:
                    runs.append(r)
        finally:
            writer_done.set()

    def reader(k: int):
        rng = random.Random(seed * 1000 + k)
        keys = list(ROUTES)
        while not writer_done.is_set():
            rng.shuffle(keys)
            for key in keys:
                if writer_done.is_set():
                    return
                t0 = time.perf_counter()
                ok = read_once(http, ROUTES[key], expected[key], f"read{k}-{t0:.6f}")
                t1 = time.perf_counter()
                with lock:
                    reads.append({"route": key, "s": t1 - t0, "end": t1, "ok": ok})

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader, args=(k,)) for k in range(READERS)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    end = max((r["end"] for r in reads), default=time.perf_counter())
    return reads, runs, end - t_start, epoch0


def run(args, session, work: str) -> dict:
    from bigdatasmallprice_spark import session as session_mod

    tracer = Tracer(bool(args.trace))
    inputs = domain_inputs(args.seed)
    model_dir = os.path.join(work, "models")

    # set-up, cold: launch the JVM and the SparkSession, register the
    # domain views, start the HTTP server, publish the first model
    # through the training DAG (the forecast route needs one)
    restore = [tracer.wrap(session_mod, "get_spark", "session.get_spark")]
    t0 = time.perf_counter()
    with tracer.span("setup"):
        spark = session.start()
        server = start_server(spark, inputs, model_dir)
        http = Http(server.server_address[1])
        first = train_once(http)
    setup_s = time.perf_counter() - t0

    # expected bodies (and warm-up): every request once, called directly
    requests = list(ROUTES.values())
    expected = {
        k: json.loads(json.dumps(direct(spark, model_dir, r, Tracer(False))[0]))
        for k, r in ROUTES.items()
    }

    checked = [first]  # every read and run of every window, for failed/attempted
    if not args.trace:
        reads, runs, secs, _ = window(http, args.seconds, MIN_RUNS, args.seed, expected)
        checked += reads + runs
    else:
        layers = direct_layers(spark, model_dir, requests, tracer)
        restore += wrap_layers(tracer)
        # traced and untraced windows of half the time and one training
        # run each, in an order the seed alternates
        rate = {}
        for traced in (args.seed % 2 == 1, args.seed % 2 == 0):
            tracer.enabled = traced
            w = window(http, args.seconds / 2, 1, args.seed, expected)
            checked += w[0] + w[1]
            rate[traced] = len(w[0]) / w[2]
            if traced:
                reads, runs, secs, epoch0 = w
        tracer.enabled = True
    for r in restore:
        r()
    rss = peak_rss_mb(session.jvm_pid)
    models_ok = artifacts_ok(model_dir)
    server.shutdown()
    server.server_close()
    session.stop()

    checked.append({"ok": models_ok})
    failed = sum(not c["ok"] for c in checked)
    attempted = len(checked)
    lat = [r["s"] for r in reads]
    loaded = [r["s"] for r in runs]
    report = [
        f"perfbench serving seed={args.seed} reads={len(reads)} "
        f"training_runs=1+{len(loaded)} window_s={secs:.2f} setup_s={setup_s:.3f} "
        f"failed_share={failed / attempted:.4f} ({failed}/{attempted}) "
        f"artifacts_ok={models_ok} "
        f"failed_routes={sorted({r['route'] for r in reads if not r['ok']})}",
        "per-route reads: "
        + ", ".join(f"{k}={sum(r['route'] == k for r in reads)}" for k in ROUTES),
    ]
    report.append(
        f"read latency: p50={quantile(lat, 0.5):.4f} s p90={quantile(lat, 0.9):.4f} s "
        f"over {len(lat)} reads, reads_per_s={len(reads) / secs:.4f}; "
        f"first_pass_s={first['s']:.4f}"
    )
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (median(loaded), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    if args.trace:
        log = parse_event_log(session.event_log())
        metrics.update(direct_metrics(layers, log))
        metrics["session.get_spark_s"] = (tracer.durations("session.get_spark")[0], "s")
        metrics["read_p50_s"] = (quantile(lat, 0.5), "s")
        metrics["read_p90_s"] = (quantile(lat, 0.9), "s")
        metrics["reads_per_s"] = (len(reads) / secs, "1/s")
        metrics["first_pass_s"] = (first["s"], "s")
        metrics.update(window_layers(tracer, reads, runs, metrics))
        sched = scheduler_stats(log, [(epoch0, epoch0 + secs)], CORES)
        report.append(
            "traced window scheduler: "
            + ", ".join(f"{k}={v:.4g}" for k, (v, _) in sorted(sched.items()))
        )
        report.append(
            f"tracing overhead: traced reads_per_s={rate[True]:.3f} "
            f"untraced reads_per_s={rate[False]:.3f} "
            f"({(rate[False] / rate[True] - 1) * 100:+.1f}%; two windows in one run, "
            "order alternating with the seed; event log on in both)"
        )
        report.extend(self_time_report(tracer.spans))
        tracer.write(os.path.join(work, "trace.json"))
    out, extras = result_metrics(metrics, bool(args.trace))
    report.extend(f"layer {k} = {v:.6g} {u}" for k, (v, u) in sorted(extras.items()))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
        "report": report,
    }


def wrap_layers(tracer: Tracer) -> list:
    """Span wrappers on the layers a request crosses inside the server:
    the API handler (continuing the client's request id), the serving
    functions, serialization and the model store."""
    from bigdatasmallprice_spark import modelstore, serving
    from bigdatasmallprice_spark.api import ApiHandler
    from bigdatasmallprice_spark.functions import serialization

    fns = sorted({req[0] for req in ROUTES.values()})
    return [
        tracer.wrap(
            ApiHandler,
            "do_GET",
            "api.handler",
            request_of=lambda a: a[0].headers.get(REQUEST_HEADER) or None,
        ),
        tracer.wrap(modelstore, "score_latest", "modelstore.score_latest"),
        tracer.wrap(modelstore, "save_model", "modelstore.save_model"),
        tracer.wrap(serialization, "serialize_rows", "serialization.serialize_rows"),
    ] + [tracer.wrap(serving, fn, f"serving.{fn}") for fn in fns]


def direct_layers(spark, model_dir, requests, tracer: Tracer) -> dict:
    """A second, traced round of direct calls, each under job groups
    ``build:<i>`` (the serving call) and ``run:<i>`` (its collect and
    serialization): latency, Catalyst phases, cached RDDs."""
    from bigdatasmallprice_spark.caching import persistent_rdd_ids
    from bigdatasmallprice_spark.plans import feature_views

    sc = spark.sparkContext
    records = []
    for i, req in enumerate(requests):
        w0 = time.time()
        _, df, build_s, ser_s = direct(spark, model_dir, req, tracer, sc, i)
        records.append(
            {
                "fn": req[0],
                "build_s": build_s,
                "run_s": ser_s,
                "window": (w0, time.time()),
                "persisted": len(persistent_rdd_ids(spark)),
                "phases": catalyst_phases(df) if df is not None else None,
            }
        )
    sc.setJobGroup("perfbench", "training_features")
    tf = []
    for _ in range(2):
        t0 = time.perf_counter()
        feature_views.training_features(spark).collect()
        tf.append(time.perf_counter() - t0)
    return {"records": records, "training_features_s": tf[-1]}


def direct_metrics(layers: dict, log: dict) -> dict:
    records = layers["records"]
    jobs = group_job_counts(log)
    build_jobs = sum(jobs.get(f"build:{i}", 0) for i in range(len(records)))
    run_jobs = sum(jobs.get(f"run:{i}", 0) for i in range(len(records)))
    frames = [r for r in records if r["phases"] is not None]
    out = scheduler_stats(log, [r["window"] for r in records], CORES)
    out.update(
        {
            "queries.build_s": (sum(r["build_s"] for r in records), "s"),
            "queries.build_jobs": (build_jobs, "count"),
            "queries.run_s": (sum(r["run_s"] for r in records), "s"),
            "queries.run_jobs": (run_jobs, "count"),
            "spark.jobs_per_read": ((build_jobs + run_jobs) / len(records), "count"),
            "caching.persisted_rdds": (max(r["persisted"] for r in records), "count"),
            "feature_views.training_features_s": (layers["training_features_s"], "s"),
            "serialization.serialize_rows_s": (median([r["run_s"] for r in frames]), "s"),
        }
    )
    for p in ("analysis", "optimization", "planning"):
        out[f"catalyst.{p}_ms"] = (sum(r["phases"][p] for r in frames), "ms")
    for fn in sorted({r["fn"] for r in records}):
        out[f"serving.{fn}_s"] = (
            median([r["build_s"] + r["run_s"] for r in records if r["fn"] == fn]),
            "s",
        )
    return out


def window_layers(tracer: Tracer, reads, runs, direct_metrics: dict) -> dict:
    """Client latency per route, API overhead over the direct calls,
    the runs' own task durations, model-store call latency."""
    out = {}
    for key in ROUTES:
        mine = [r["s"] for r in reads if r["route"] == key]
        out[f"api.{key}_s"] = (median(mine) if mine else 0.0, "s")
    fn_of = {key: req[0] for key, req in ROUTES.items()}
    gaps = [
        out[f"api.{key}_s"][0] - direct_metrics[f"serving.{fn_of[key]}_s"][0]
        for key in ROUTES
    ]
    out["api.overhead_s"] = (median(gaps), "s")
    for task in ("run_training", "train_load_model"):
        vals = [r["tasks"][task] for r in runs if task in r["tasks"]]
        out[f"runs.{task}_s"] = (median(vals) if vals else 0.0, "s")
    out["runs.queue_s"] = (
        median([r["s"] - sum(r["tasks"].values()) for r in runs]) if runs else 0.0,
        "s",
    )
    for name in ("modelstore.score_latest", "modelstore.save_model"):
        vals = tracer.durations(name)
        out[f"{name}_s"] = (median(vals) if vals else 0.0, "s")
    return out
