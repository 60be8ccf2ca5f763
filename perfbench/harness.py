"""Run context shared by the workloads: checkout paths, Spark session
lifecycle, and the result record every workload returns."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from data import content_key
from probe import Tracer

APP = "perfbench"
# Session set-ups per run; ``setup_s`` is their median.
SETUPS = 3
JVM_HEAP = "1g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Process environment for the program, set before pyspark starts:
    engine sized to this host, every scratch path inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM pyspark starts: scratch files in the checkout, no
    # hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


@dataclass
class Result:
    """What one workload run measured. ``e2e`` and ``layers`` map a
    metric name to its value; units live in BENCHMARK.json."""

    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.notes.append(msg)


class Context:
    """One benchmark run: where it may write, what it measures, and how
    it starts and stops Spark sessions."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, small: bool = False) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.small = small
        self.cache = os.path.join(root, ".perfbench")
        self.work = os.path.join(self.cache, "run", f"{workload}-{seed}-{os.getpid()}")
        self.tracer = Tracer(trace)
        self.event_log = os.path.join(self.work, "eventlog")
        # untraced results are kept per version of the program and the
        # benchmark; a traced run compares its job_s with the ones
        # recorded for the same version
        version = content_key([
            os.path.join(root, "dbt_project_spark"),
            os.path.dirname(os.path.abspath(__file__)),
            os.path.join(root, "BENCHMARK.json"),
        ])
        self.results = os.path.join(
            self.cache, "results", f"{workload}-{version}.jsonl"
        )
        self.baseline_job_s = self._recorded_job_s() if trace and not small else None

    def _recorded_job_s(self):
        if not os.path.exists(self.results):
            return None
        with open(self.results) as fh:
            vals = [json.loads(x)["job_s"] for x in fh if x.strip()]
        return statistics.median(vals) if vals else None

    def overhead_frac(self, traced_job_s: float, res: "Result") -> float:
        """Traced ``job_s`` over the untraced runs recorded for this
        version, minus 1. A traced run measures one segment only, so that
        it ends in time; before any untraced run of this version has been
        recorded in the checkout it reports 0 and says so."""
        if self.baseline_job_s is None:
            res.notes.append(
                "trace.overhead_frac not measured: no untraced run of this "
                "version is recorded in this checkout yet"
            )
            return 0.0
        return traced_job_s / self.baseline_job_s - 1.0

    def record(self, e2e: dict) -> None:
        """Keep an untraced run's end-to-end numbers for later traced runs."""
        os.makedirs(os.path.dirname(self.results), exist_ok=True)
        with open(self.results, "a") as fh:
            fh.write(json.dumps({"seed": self.seed, **e2e}) + "\n")

    def conf(self, event_log: bool) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "false",
            # the whole heap committed and touched at start, so peak
            # memory does not depend on how far the collector grew it
            "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
        }
        if event_log:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log,
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start_spark(self, event_log: bool = False):
        from dbt_project_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            spark = get_spark(APP, extra_conf=self.conf(event_log))
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setups(self, load_inputs) -> tuple[object, list[float], list[float], object]:
        """``SETUPS`` session starts, each followed by ``load_inputs(spark)``;
        the last session stays up. Returns (spark, setup seconds, session
        start seconds, what the last ``load_inputs`` returned)."""
        setup_s, start_s = [], []
        spark = inputs = None
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = self.start_spark()
            start_s.append(time.perf_counter() - t0)
            inputs = load_inputs(spark)
            setup_s.append(time.perf_counter() - t0)
        return spark, setup_s, start_s, inputs

    def cleanup(self) -> None:
        if self.trace:
            self.tracer.write(
                os.path.join(self.cache, "traces", f"{self.workload}-{self.seed}.json")
            )
        shutil.rmtree(self.work, ignore_errors=True)


def shutdown_jvm() -> None:
    """Stop the JVM that pyspark launched and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - already gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
