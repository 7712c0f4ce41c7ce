"""The ``iterative`` workload: one closed-loop client that builds each
query of ``ITERATIVE`` and collects it to the driver, pass after pass,
in a seeded order. The builders run the iterative fits eagerly (dozens
of small Spark jobs each), so job count, not data size, sets the time.

Timed: each query's builder call plus its ``collect``. Cache release
after each query (``caching.released_caches`` + ``clearCache``, the
discipline ``bench.py`` and ``serving.run_registered`` follow) and
result canonicalization happen outside the timed window. Every pass's
result is checked against the query's DuckDB oracle after the passes.
"""

from __future__ import annotations

import os
import random
import time

from perfbench.inputs import TABLES, write_tables
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
from tests.test_oracle_parity import canon

ITERATIVE = ("pagerank_copurchase",)
CORES = 4
SF = 0.001  # scale factor of the generated tables
# steady passes a run holds at least, so that pass_s is a median of five
MIN_PASSES = 5


def canonical(rows, cols) -> tuple:
    """Column names and rows in the engine's parity-test canonical form."""
    return tuple(sorted(cols)), canon(rows, cols)


def oracle_results(sf_dir: str, specs: dict, names: list[str]) -> dict:
    """Each query's DuckDB oracle over the same parquet, canonical."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for n in names:
            res = con.execute(specs[n].oracle)
            out[n] = canonical(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()


# -- the client --------------------------------------------------------------


class Client:
    def __init__(self, spark, specs, sf_dir: str, tracer: Tracer):
        self.spark = spark
        self.specs = specs
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.results: list[tuple[str, tuple]] = []  # (name, canon) per execution
        self.records: list[dict] = []  # traced executions only

    def execute(self, name: str, tag: str, traced: bool) -> float:
        """Build + collect one query; returns its latency in seconds."""
        from bigdatasmallprice_spark.caching import persistent_rdd_ids, released_caches

        spark, sc = self.spark, self.spark.sparkContext
        tracer = self.tracer if traced else Tracer(False)
        with released_caches(spark):
            w0 = time.time()
            with tracer.span(f"query.{name}"):
                if traced:
                    sc.setJobGroup(f"build:{name}:{tag}", name)
                t0 = time.perf_counter()
                with tracer.span("queries.build"):
                    df = self.specs[name].fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"run:{name}:{tag}", name)
                with tracer.span("queries.run"):
                    rows = df.collect()
                t2 = time.perf_counter()
            w1 = time.time()
            if traced:
                sc.setJobGroup("perfbench", "between queries")
                self.records.append(
                    {
                        "name": name,
                        "tag": tag,
                        "build_s": t1 - t0,
                        "run_s": t2 - t1,
                        "window": (w0, w1),
                        "persisted": len(persistent_rdd_ids(spark)),
                        "phases": catalyst_phases(df),
                    }
                )
        spark.catalog.clearCache()
        self.results.append((name, canonical(rows, df.columns)))
        return t2 - t0


def run(args, session, work: str) -> dict:
    from bigdatasmallprice_spark import catalog
    from bigdatasmallprice_spark import session as session_mod
    from bigdatasmallprice_spark.registry import all_queries

    tracer = Tracer(bool(args.trace))
    sf_dir = write_tables(os.path.join(work, "inputs"), args.seed, SF)
    specs = all_queries()
    names = list(ITERATIVE)
    rng = random.Random(args.seed)

    # set-up, cold: launch the JVM and the SparkSession, then load the
    # input tables through the catalog
    restore = [
        tracer.wrap(session_mod, "get_spark", "session.get_spark"),
        tracer.wrap(catalog, "load_table", "catalog.load_table"),
    ]
    t0 = time.perf_counter()
    with tracer.span("setup"):
        spark = session.start()
        for t in TABLES:
            catalog.load_table(spark, sf_dir, t)
    setup_s = time.perf_counter() - t0

    client = Client(spark, specs, sf_dir, tracer)
    order = list(names)
    rng.shuffle(order)
    first_pass = sum(client.execute(n, "p0", False) for n in order)

    steady: list[float] = []
    lat: list[float] = []
    untraced: list[float] = []
    traced: list[float] = []
    t_start = time.perf_counter()
    p = 0
    while len(steady) < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
        p += 1
        rng.shuffle(order)
        total = 0.0
        for n in order:
            if args.trace:
                # alternating A/B per query: the same query once with
                # spans and job groups, once without, in seeded order
                a_first = rng.random() < 0.5
                for on in (a_first, not a_first):
                    dt = client.execute(n, f"p{p}", on)
                    (traced if on else untraced).append(dt)
                    if on:
                        total += dt
                        lat.append(dt)
            else:
                dt = client.execute(n, f"p{p}", False)
                total += dt
                lat.append(dt)
        steady.append(total)
    rss = peak_rss_mb(session.jvm_pid)
    for r in restore:
        r()
    session.stop()

    want = oracle_results(sf_dir, specs, names)
    mismatched = [n for n, got in client.results if got != want[n]]
    failed = len(mismatched)
    attempted = len(client.results)

    report = [
        f"perfbench iterative seed={args.seed} queries={len(names)} "
        f"passes=1+{len(steady)} setup_s={setup_s:.3f} "
        f"failed_share={failed / attempted:.4f} ({failed}/{attempted}) "
        f"oracle_mismatches={sorted(set(mismatched))}"
    ]
    report.append(
        f"read latency: p50={quantile(lat, 0.5):.4f} s p90={quantile(lat, 0.9):.4f} s "
        f"over {len(lat)} query executions, reads_per_s={len(lat) / sum(steady):.4f}; "
        f"first_pass_s={first_pass:.4f}"
    )
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (median(steady), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    if args.trace:
        log = parse_event_log(session.event_log())
        metrics.update(layer_metrics(client.records, log, len(steady)))
        metrics["session.get_spark_s"] = (tracer.durations("session.get_spark")[0], "s")
        cold_load = tracer.durations("catalog.load_table")[: len(TABLES)]
        metrics["catalog.load_table_s"] = (sum(cold_load), "s")
        metrics["read_p50_s"] = (quantile(lat, 0.5), "s")
        metrics["read_p90_s"] = (quantile(lat, 0.9), "s")
        metrics["reads_per_s"] = (len(lat) / sum(steady), "1/s")
        metrics["first_pass_s"] = (first_pass, "s")
        overhead = sum(traced) / sum(untraced) - 1.0
        report.append(
            f"tracing overhead: mean traced pass {sum(traced) / len(steady):.3f} s, "
            f"untraced {sum(untraced) / len(steady):.3f} s "
            f"({overhead * 100:+.1f}%, alternating per-query A/B; event log on in both)"
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


def layer_metrics(records: list[dict], log: dict, passes: int) -> dict:
    """Per-layer metrics of the traced executions, per steady pass."""
    jobs = group_job_counts(log)
    for r in records:
        r["build_jobs"] = jobs.get(f"build:{r['name']}:{r['tag']}", 0)
        r["run_jobs"] = jobs.get(f"run:{r['name']}:{r['tag']}", 0)

    def per_pass(key):
        return sum(r[key] for r in records) / passes

    n_exec = len(records)
    out = scheduler_stats(log, [r["window"] for r in records], CORES, per=passes)
    out.update({
        "queries.build_s": (per_pass("build_s"), "s"),
        "queries.build_jobs": (per_pass("build_jobs"), "count"),
        "queries.run_s": (per_pass("run_s"), "s"),
        "queries.run_jobs": (per_pass("run_jobs"), "count"),
        "spark.jobs_per_read": (
            sum(r["build_jobs"] + r["run_jobs"] for r in records) / n_exec,
            "count",
        ),
        "caching.persisted_rdds": (max(r["persisted"] for r in records), "count"),
    })
    for p in ("analysis", "optimization", "planning"):
        out[f"catalyst.{p}_ms"] = (
            sum(r["phases"][p] for r in records) / passes,
            "ms",
        )
    for n in ITERATIVE:
        mine = [r for r in records if r["name"] == n]
        if mine:
            out[f"query.{n}.build_s"] = (median([r["build_s"] for r in mine]), "s")
            out[f"query.{n}.build_jobs"] = (median([r["build_jobs"] for r in mine]), "count")
            out[f"query.{n}.run_s"] = (median([r["run_s"] for r in mine]), "s")
    return out
