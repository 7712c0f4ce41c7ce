"""Benchmark entry point.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 5 --trace 0

Runs one workload (``iterative`` or ``serving``; see
NOTES.md) on ``local[4]`` from the root of a checkout, checks every
result, and prints a summary line followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` is a separate
traced run (spans + Spark event log) that reports the per-layer
metrics and writes its spans to ``perfbench/.work/``.

Everything the run writes stays under ``perfbench/.work/`` (inputs,
Spark local dirs, event logs, model artifacts, traces).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# driver heap limit (-Xmx); the heap grows only as far as the run needs
HEAP = "2g"
WORKLOADS = ("iterative", "serving")


class Session:
    """Starts and stops the engine's SparkSession (``session.get_spark``)
    with the benchmark's deployment settings; owns the JVM it launches."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.spark = None
        self.app_id: str | None = None
        self.jvm_pid: int | None = None

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            logs = os.path.join(self.work, "eventlog")
            os.makedirs(logs, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": logs,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self):
        from bigdatasmallprice_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.app_id = self.spark.sparkContext.applicationId
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def event_log(self) -> str:
        return os.path.join(self.work, "eventlog", self.app_id)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_checkout() -> str | None:
    for rel in ("bigdatasmallprice_spark/__init__.py", "tests/domain_data.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"perfbench: {rel} not found under {ROOT}; run from a full checkout"
    return None


def main(argv=None) -> int:
    args = parse_args(argv)
    problem = check_checkout()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # spark-submit's launcher JVM, which builds the driver command
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    session = Session(work, bool(args.trace))
    try:
        if args.workload == "serving":
            from perfbench import serve

            result = serve.run(args, session, work)
        else:
            from perfbench import iterative

            result = iterative.run(args, session, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            session.shutdown()
        finally:
            keep = os.path.join(work, "trace.json")
            if os.path.exists(keep):
                shutil.move(
                    keep,
                    os.path.join(HERE, ".work", f"trace-{args.workload}-{args.seed}.json"),
                )
            shutil.rmtree(work, ignore_errors=True)
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
