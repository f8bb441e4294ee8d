"""Process set-up shared by the workloads: a private work directory inside
the checkout, one Spark session, and a clean stop.

Everything the run writes (inputs, targets, checkpoints, Spark scratch,
the event log, Python temp files) goes under ``.bench_work/`` in the
checkout, which is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One core is left to the generator, the monitor and the Spark driver.
CORES = max(1, len(os.sched_getaffinity(0)) - 1)


@dataclass
class Outcome:
    """What a workload measured. ``metrics`` are end-to-end values,
    ``layers`` per-layer values (traced run); ``report`` are the
    human-readable lines printed before the result."""

    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    report: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted operation; a failed one is also a
        correctness failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.mismatches.append(what)
        return ok


def make_workdir(workload: str, seed: int) -> str:
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python temp files (the engine's round-trip queries and index builds
    # use tempfile) and Spark scratch stay inside the work dir.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    return work


def start_spark(work: str, trace: bool):
    from postgres_cdc_reconciliation_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        f" -Dderby.system.home={work}/tmp",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def set_group(spark, name: str | None) -> None:
    """Tag the calling thread's Spark jobs for the event-log fold."""
    sc = spark.sparkContext
    if name is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(name, name)
