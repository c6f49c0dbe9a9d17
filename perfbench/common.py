"""Shared pieces of the benchmark: process environment, statistics,
streaming-progress parsing and the result record every workload fills.

Nothing here imports pyspark at module import time: ``run.py`` must be
able to set the environment (worker import path, local dirs) before
the JVM starts.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_run"  # per-run scratch: staged logs, checkpoints, sinks
OUT = ROOT / ".bench_out"  # span dumps of traced runs


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def prepare_process() -> None:
    """Point the engine, its Python workers and the JVM at the checkout.

    The workers of ``applyInPandasWithState`` and of pandas UDFs import
    ``dcafs_spark`` by name, so the checkout root must be on their
    ``PYTHONPATH`` whatever directory the benchmark was launched from;
    a missing entry there is a harness error, never an engine failure.
    Every file the JVM or Spark writes lands under ``.bench_run``.
    """
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("spark-local", "tmp", "warehouse"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    root = str(ROOT)
    if root not in sys.path:
        sys.path.insert(0, root)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # the JVM keeps its temp files here and writes no hsperfdata to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'}",
            "pyspark-shell",
        ]
    )


def start_spark(app: str):
    """The engine's own session factory, with the log level lowered."""
    from dcafs_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        return math.nan
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """How many of n samples lie above the q-th percentile."""
    return n - math.ceil(n * q / 100.0)


def tail(values: list[float]) -> dict | None:
    """The highest of p99/p90/p75 with at least ten samples beyond it,
    with its sample count; None when the run has too few samples for
    any of them (fewer than 40)."""
    for q in (99, 90, 75):
        if beyond(len(values), q) >= 10:
            return {"percentile": q, "ms": percentile(values, q), "samples": len(values), "beyond": beyond(len(values), q)}
    return None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def progress_dicts(query) -> list[dict]:
    """A streaming query's recentProgress as plain dicts, batches with
    input only, in batch order."""
    out = []
    for p in query.recentProgress or []:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return sorted(out, key=lambda d: d["batchId"])


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    workload: str
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, **info) -> None:
        self.checks[name] = bool(ok)
        if info:
            self.detail.setdefault("check_info", {})[name] = info

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(self.checks.values())


class Stopwatch:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def s(self) -> float:
        return time.perf_counter() - self.t0
