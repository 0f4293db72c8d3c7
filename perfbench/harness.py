"""Shared plumbing for the workloads: the Spark session, the per-run work
directory, timing statistics, peak memory and the result line.

Everything a run writes lands under ``.perfbench_work/`` in the directory
the benchmark is started from (the checkout root), which is wiped at the
start of every run so appends and rewrites never carry over.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

PACKAGE = "udata_datalake_service_spark"
WORK_DIR = ".perfbench_work"
CORES = min(4, os.cpu_count() or 1)
DRIVER_HEAP = "2g"


class OutputMismatch(Exception):
    """An operation returned an answer other than the one the benchmark
    expects (declared by the generator or pinned); counted in ``failed``."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise OutputMismatch(what)


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile that still has at least ten samples beyond
    it: ``(value, percentile, n)``, or None when there are fewer than 11
    samples. With ``n`` sorted samples the value at 0-based rank ``n - 11``
    has exactly ten samples above it, i.e. it is the ``100 * (n - 10) / n``
    percentile."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def tail_or_max(values: list[float]) -> tuple[float, float, int]:
    """`tail`, falling back to the slowest sample when the run holds too
    few samples for the ten-beyond rule (reported as percentile 100)."""
    t = tail(values)
    if t is not None:
        return t
    return max(values), 100.0, len(values)


@dataclass
class Outcome:
    """Attempted/failed operation counts, with the first failures kept for
    the stderr report."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, err: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(err)


def prepare_checkout() -> Path:
    """Fail fast unless run from a checkout that holds the package, make the
    package importable by this process and by Spark's Python workers, and
    give a fresh work directory. Returns the work directory."""
    root = Path.cwd()
    if not (root / PACKAGE / "__init__.py").is_file():
        raise SystemExit(
            f"perfbench: no {PACKAGE}/ package under {root}; run from the "
            "root of a checkout"
        )
    sys.path.insert(0, str(root))
    # executors import the package (mapInPandas closures reference it);
    # they inherit PYTHONPATH from the JVM, which inherits it from here
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + prev if prev else "")
    work = root / WORK_DIR
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    return work


def start_spark(work: Path, event_log: bool):
    """The benchmark's own session: ``local[CORES]``, every scratch path
    inside the work directory, and (traced runs only) an uncompressed,
    non-rolling event log the trace fold reads after the session stops."""
    from udata_datalake_service_spark.session import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        # a fixed heap: with G1 growing it on demand, peak RSS moved by ~20 %
        # from run to run with the GC's timing alone
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log:
        (work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=2 * CORES,
        extra_conf=conf,
    )


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM child."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return own + (_vm_hwm_mb(proc.pid) if proc is not None else 0.0)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes), so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a wedged JVM is killed, not leaked
            proc.kill()
            proc.wait(timeout=30)


class Clock:
    """Deadline for the measured window."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.seconds = seconds

    def running(self) -> bool:
        return time.perf_counter() - self.t0 < self.seconds


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def emit(outcome: Outcome, metrics: dict[str, tuple[float, str]], detail: dict) -> None:
    """stderr gets the detail record (tail percentiles, sample counts,
    failures); the last stdout line is the result object."""
    print(json.dumps({"detail": detail, "errors": outcome.errors}), file=sys.stderr)
    correct = outcome.failed == 0 and outcome.attempted > 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(outcome.attempted, 1),
                "failed": outcome.failed if outcome.attempted else 1,
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
