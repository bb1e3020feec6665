"""Benchmark of the spark-graft engine: one workload, one seed, one run.

Usage, from the repository root::

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (set-up, pass time, per-op latency
percentiles, peak memory); with ``--trace 1`` the per-layer ones, plus
the tracing overhead. See perfbench/README.md for the workloads, the
metrics and the layer each one attributes.

Everything the run writes stays under ``.perfbench_work/<workload>/``
in the current directory; that directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("interactive", "sync_replicate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Point every scratch location of Python, the JVM, Spark and the
    package at ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    (work / "eventlog").mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def submit_args(work: Path, event_log: bool) -> str:
    """JVM launch conf. The event log is turned on here, at launch, so
    ``session.get_spark`` stays as it is."""
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": (work / "eventlog").as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    java = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Dderby.system.home={work}"
    return " ".join(
        [f"--conf {k}={v}" for k, v in conf.items()]
        + [f'--driver-java-options "{java}"', "pyspark-shell"]
    )


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Session:
    """A Spark session in its own JVM: launched by :meth:`setup`, shut
    down (JVM included) by :meth:`shutdown`."""

    def __init__(self, workload, work: Path) -> None:
        self.workload = workload
        self.work = work
        self.trace = False  # launch the next JVM with the event log on
        self.spark = None
        self.ship_ms = 0.0
        # SparkContexts stay referenced: catalog.ensure_shipped caches by
        # id(SparkContext), and a recycled id would skip the shipping
        self._contexts: list = []

    def setup(self) -> float:
        """Launch the JVM and start the session, ship the package to
        Python workers, warm one worker per core and bind the workload.
        Returns the wall time in seconds."""
        from outreach_etl_tool_spark import catalog
        from outreach_etl_tool_spark.session import get_spark

        os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(self.work, self.trace)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        self._contexts.append(spark.sparkContext)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        catalog.ensure_shipped(spark)
        self.ship_ms = (time.perf_counter() - t1) * 1000.0
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        spark.range(cpus * 16).repartition(cpus).mapInPandas(
            lambda batches: batches, "id long"
        ).write.format("noop").mode("overwrite").save()
        self.workload.bind(spark)
        self.spark = spark
        return time.perf_counter() - t0

    def _pids(self) -> list[str]:
        """The driver Python process and the JVM."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return ["self"] + ([str(proc.pid)] if proc is not None else [])

    def reset_peak_rss(self) -> None:
        """Restart the peak of both processes from their current
        resident set (Linux: 5 written to ``clear_refs``)."""
        for pid in self._pids():
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def peak_rss_mb(self) -> float:
        """Driver Python plus JVM peak resident memory since the last
        :meth:`reset_peak_rss`."""
        return sum(vm_hwm_mb(pid) for pid in self._pids())

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "outreach_etl_tool_spark" / "__init__.py").is_file() or not (
        root / "tools" / "selfcheck.py"
    ).is_file():
        print("perfbench: run from the repository root: outreach_etl_tool_spark/ "
              "and tools/selfcheck.py are required", file=sys.stderr)
        return 2
    work = root / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    sys.path.insert(0, str(root))
    sys.path.append(str(root / "tools"))  # tools/selfcheck.py, the oracle comparator

    import harness
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, work)
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    session = Session(wl, work)
    try:
        if args.trace:
            result = harness.traced_run(session, args.seconds, args.workload,
                                        work / "eventlog")
        else:
            result = harness.untraced_run(session, args.seconds, args.workload)
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for line in result.pop("summary"):
        print(line)
    print(f"  inputs prepared in {prepare_s:.1f} s; run took {time.perf_counter() - t0:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
