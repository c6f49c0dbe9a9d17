"""Executed-plan inspection shared by the scan-budget gate
(tests/test_plans_engine.py::test_write_path_scan_budget) and its
budget generator (scripts/scan_budget_audit.py).

One measurement, two consumers: run the query through a noop WRITE,
capture that write's OWN post-AQE final plan via a
QueryExecutionListener, and count FileScans per base table.

Methodology note (round 14). The gate originally counted scans in the
*initial* plan on the belief that AQE exchange reuse does not fire
under writes (round-8 finding, Spark 3.x-era). Measured again on Spark
4.1.2 (OPTIMIZATION_r14.md §8): AQE DOES reuse shuffle
stages under a noop write whenever the duplicated subtrees are
identical after column pruning — exactly as under collect — and only
genuinely re-executes them when consumers prune different columns.
The initial plan cannot tell those two cases apart (both print N
FileScans), so it over-counts runtime-shared subtrees. The gate now
counts scans in the FINAL executed plan of the write, where a reused
subtree prints as ReusedExchange/ShuffleQueryStage instead of a second
FileScan: a real re-scan still counts, a runtime-shared one does not.
Keeping this in one place is what makes the committed budget table and
the enforcing test measure the same thing by construction.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

BASE_TABLES = (
    "lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings",
)

# One listener per JVM session: (java SparkSession id) -> capture list.
_captures: list[str] = []
_registered_sessions: set[str] = set()
_listener_refs: list[object] = []  # keep callback objects alive


class _PlanCaptureListener:
    """py4j callback implementing QueryExecutionListener; stores the
    executed (post-AQE-final) plan text of every successful action."""

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802,N803 — JVM iface
        try:
            _captures.append(qe.executedPlan().toString())
        except Exception:  # noqa: BLE001 — never break the listener bus
            pass

    def onFailure(self, funcName, qe, exception):  # noqa: N802,N803
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _ensure_listener(df: DataFrame) -> None:
    spark = df.sparkSession
    key = str(spark._jsparkSession.hashCode())
    if key in _registered_sessions:
        return
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = _PlanCaptureListener()
    spark._jsparkSession.listenerManager().register(listener)
    _listener_refs.append(listener)
    _registered_sessions.add(key)


def executed_write_plan(df: DataFrame, timeout_s: float = 30.0) -> str:
    """Noop-write the frame and return the write's final (post-AQE)
    executed plan text (initial-plan section stripped)."""
    _ensure_listener(df)
    _captures.clear()
    df.write.format("noop").mode("overwrite").save()
    # The listener bus delivers asynchronously; wait for the write's
    # plan (identified by its NoopWrite command root) to arrive.
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        for plan in reversed(_captures):
            if "NoopWrite" in plan:
                return plan.split("+- == Initial Plan ==")[0]
        time.sleep(0.05)
    raise TimeoutError(
        "QueryExecutionListener did not deliver the noop write's executed plan"
    )


def table_scan_counts(plan: str) -> dict[str, int]:
    """FileScan count per base table in a plan text (0s included)."""
    return {t: plan.count(f"{t}.parquet") for t in BASE_TABLES}
