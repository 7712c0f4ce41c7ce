"""Metric names and units shared by the workloads and BENCHMARK.json.

``END_TO_END`` is what a ``--trace 0`` run prints; ``PER_LAYER`` is what
a ``--trace 1`` run prints in its result line. Every workload measures
every metric of both lists (NOTES.md defines each per workload). The
traced runs additionally print and save workload-specific layer metrics
(per-query, per serving function, per route, runs, modelstore) that
only one workload reaches.
"""

from __future__ import annotations

END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "pass_s": "s",
}

# Peak RSS, the cold pass and the read figures are layer metrics, not
# end-to-end ones: they do not repeat within a bound of at most 0.25
# from run to run on a shared host (NOTES.md has the measured spreads).
PER_LAYER: dict[str, str] = {
    "peak_rss_mb": "MB",
    "first_pass_s": "s",
    "reads_per_s": "1/s",
    "read_p50_s": "s",
    "read_p90_s": "s",
    "session.get_spark_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.run_s": "s",
    "queries.run_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.driver_gap_s": "s",
    "spark.parallel_eff": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.jobs_per_read": "count",
    "caching.persisted_rdds": "count",
}


def result_metrics(measured: dict[str, tuple[float, str]], trace: bool):
    """(metrics for the result line, workload-specific extras). Raises
    if a metric of the list is missing or carries another unit."""
    names = PER_LAYER if trace else END_TO_END
    out = {}
    for name, unit in names.items():
        if name not in measured:
            raise KeyError(f"metric {name} was not measured")
        value, got = measured[name]
        if got != unit:
            raise ValueError(f"metric {name} measured in {got}, declared {unit}")
        out[name] = {"value": float(value), "unit": unit}
    extras = {k: v for k, v in measured.items() if k not in names}
    return out, extras
