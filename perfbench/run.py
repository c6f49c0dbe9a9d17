"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of the dcafs_spark engine on local[nproc] in this
process, checks its outputs, and prints as its last stdout line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the public engine calls are wrapped in spans and the metrics are the
per-layer ones. A run whose check fails reports its failures and no
numbers. The line before it is a detail record: seed, why the workload
was chosen, sample counts and check results.

Workloads:
  replay_ingest  closed loop: recorded log chunks through the full store path
  live_stateful  open loop: rate source into executor-side state at a fixed rate
  query_catalog  closed loop, one client: catalog queries over generated tables
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.common import OUT, ROOT, prepare_process  # noqa: E402

WORKLOADS = ("replay_ingest", "live_stateful", "query_catalog")


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    prepare_process()
    mod = importlib.import_module(f"perfbench.{args.workload}")
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
    t0 = time.perf_counter()
    try:
        res = mod.run(args.seed, args.seconds, tracer)
    finally:
        if tracer is not None:
            tracer.restore()
            tracer.dump(OUT / f"spans_{args.workload}_seed{args.seed}.json")

    e2e, layers = declared_metrics()
    wanted = layers if args.trace else e2e
    values = res.layers if args.trace else res.e2e
    missing = [k for k in wanted if not isinstance(values.get(k), (int, float)) or math.isnan(values[k])]
    if args.trace:  # a layer the workload never calls did no work
        for k in missing:
            values[k] = 0
        missing = []
    correct = res.correct and not missing and res.failed == 0
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "why": mod.WHY,
        "trace": args.trace,
        "wall_s": round(time.perf_counter() - t0, 3),
        "checks": res.checks,
        "missing": missing,
        **res.detail,
    }
    if not correct:  # what was measured stays visible beside the failure
        detail["measured"] = values
    print("detail " + json.dumps(detail, default=str))
    metrics = {k: {"value": values[k], "unit": u} for k, u in wanted.items()} if correct else {}
    print(
        json.dumps(
            {"correct": correct, "attempted": max(res.attempted, 1), "failed": res.failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
