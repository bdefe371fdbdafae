"""What every workload shares: the Spark session, the run's directories,
job-group tags, Catalyst phase reads and the median.

The benchmark writes only inside the checkout: Spark's scratch space,
the JVM's and Python's temp files, the event log and each run's inputs
all live under ``.perfbench/<workload>/``, which is emptied when a run
of that workload starts.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """One benchmark run: its directories, its Spark session and whether
    it traces. With ``trace`` on, Spark's native event log is written
    uncompressed into the run directory and every operation gets a job
    group ``<workload>/<op>#<i>``; with it off, neither happens."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.dir = ROOT / ".perfbench" / workload
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = self.dir / "tmp"
        self.tmp.mkdir(parents=True)
        self.event_dir = self.dir / "eventlog"
        self.spark = None
        self.build_s = 0.0
        self.first_job_s = 0.0
        self.groups: dict[str, float] = {}  # job group -> wall seconds
        self.phases: dict[str, float] = {}  # set-up phase -> wall seconds

    def path(self, name: str) -> str:
        return str(self.dir / name)

    def start_session(self):
        """Build the session with the library's defaults on
        ``local[<usable cores>]``, keeping scratch files in the run
        directory, and run one trivial job."""
        os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(self.tmp)
        # executors' Python workers unpickle closures that import the
        # library, so they need the checkout on their path too
        paths = [str(ROOT), os.environ.get("PYTHONPATH", "")]
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
        from calorista_spark.session import build_session

        conf = {
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": str(self.dir / "warehouse"),
        }
        if self.trace:
            self.event_dir.mkdir()
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": str(self.event_dir),
                }
            )
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.spark.range(1).count()
        self.build_s = t1 - t0
        self.first_job_s = time.perf_counter() - t1
        return self.spark

    @contextlib.contextmanager
    def phase(self, name: str):
        """Record the wall time of one untimed set-up step."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    @contextlib.contextmanager
    def op(self, name: str, i: int):
        """Tag the enclosed Spark jobs with ``<workload>/<name>#<i>`` when
        tracing, and record the block's wall time under that group."""
        group = f"{self.workload}/{name}#{i}"
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield group
        finally:
            self.groups[group] = time.perf_counter() - t0
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def stop(self) -> None:
        """Stop Spark, then end the JVM that PySpark launched and wait for
        it to exit, so that no process outlives the run."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def catalyst_ms(df) -> float:
    """Optimization plus physical-planning time of ``df``'s own query
    execution, from Spark's ``QueryPlanningTracker``. Forces planning,
    so call it outside timed regions."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(
        sum(
            phases.apply(k).durationMs()
            for k in ("optimization", "planning")
            if phases.contains(k)
        )
    )
