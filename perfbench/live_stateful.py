"""live_stateful — the live sensor feed into executor-side state, open loop.

The ``rate`` source offers R rows/s whatever the query's progress; each
row becomes a sensor line over K seeded keys, the path is compiled once
and feeds ``stateful_values(history_n=10)``, and a foreachBatch sink
takes every key update. The trigger fires every T seconds, and R is set
well below the measured knee, so each steady batch carries exactly R*T
rows and the stream keeps up.

Per-row latency runs from the row's due time (the rate source stamps row
v of second s at creation + s + i/R, whatever the query does) to the end
of the foreachBatch that emitted its key's update.
"""

from __future__ import annotations

import math
import time

from perfbench import gen
from perfbench.common import WORK, Result, Stopwatch, beyond, median, percentile, progress_dicts, start_spark, stop_spark, tail

WHY = (
    "live feed into applyInPandasWithState: small latency-bound batches at a fixed "
    "offered rate, same compiler as replay, executor-side state"
)
RATE = 1000  # rows/s offered
TRIGGER_S = 3  # processing-time trigger
KEYS = 200
HISTORY_N = 10
WARMUP_BATCHES = 3  # batch time is near steady from the fourth trigger
# The trigger grid is wall-clock multiples of T while the rate source
# releases whole seconds counted from its creation. A creation time 850 ms
# into a wall-clock second puts every trigger 150 ms after a source second
# closes: a trigger that fires up to 0.85 s late still reads the same
# offset, so every batch carries exactly R*T rows. Triggers never fire early.
TARGET_PHASE_MS = 850
PHASE_TOLERANCE_MS = 60


def run(seed: int, seconds: float, tracer=None) -> Result:
    res = Result("live_stateful")
    setup = Stopwatch()
    spark = start_spark("bench_live_stateful")
    res.layers["session.start_s"] = setup.s()
    if tracer is not None:
        _install(tracer)

    from dcafs_spark.plans import dsl
    from dcafs_spark.streaming import stateful

    nparts = spark.sparkContext.defaultParallelism  # local[nproc]
    rate = spark.readStream.format("rate").option("rowsPerSecond", RATE).option("numPartitions", nparts).load()
    if tracer is not None:
        tracer.enabled = True  # the path is compiled once, here
    main, _rejects = dsl.compile_path(gen.live_lines(rate, seed, KEYS), gen.LIVE_PATH)
    updates = stateful.stateful_values(main, history_n=HISTORY_N)
    if tracer is not None:
        tracer.enabled = False

    final: dict[tuple[str, str], int] = {}
    ends: dict[int, float] = {}

    def sink(df, batch_id):
        for r in df.collect():
            final[(r["group"], r["name"])] = r["n_updates"]
        ends[batch_id] = time.time()

    query, created = _start_on_phase(
        updates.writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(processingTime=f"{TRIGGER_S} seconds")
    )
    warm = time.perf_counter()
    _wait_batches(query, WARMUP_BATCHES)
    res.layers["session.warmup_s"] = time.perf_counter() - warm
    res.e2e["setup_s"] = setup.s()

    first_timed = len(progress_dicts(query))
    window_t0 = time.perf_counter()
    n_due = first_timed + math.ceil(seconds / TRIGGER_S)  # whole triggers covering the window
    # the traced run leaves its first half untraced: tracing overhead
    half_at = first_timed + (n_due - first_timed) // 2
    while (done := len(progress_dicts(query))) < n_due:
        if tracer is not None:
            tracer.enabled = done >= half_at
        time.sleep(0.05)
        if query.exception() is not None:
            break
    window_s = time.perf_counter() - window_t0
    _stop_between_batches(query)
    if tracer is not None:
        tracer.enabled = False

    prog = progress_dicts(query)
    timed = prog[first_timed:n_due]
    want_rows = RATE * TRIGGER_S
    over = [p for p in timed if p["numInputRows"] > want_rows]
    res.attempted = len(timed)
    res.failed = len(over) + (1 if query.exception() is not None else 0)

    lat_ms: list[float] = []
    for p in timed:
        s0, s1 = int(p["sources"][0]["startOffset"]), int(p["sources"][0]["endOffset"])
        end = ends[p["batchId"]]
        n = p["numInputRows"]
        # rows of seconds [s0, s1) are due evenly over that span
        lat_ms += [1000 * (end - (created + s0 + (s1 - s0) * i / n)) for i in range(n)]
    busy_s = sum(p["durationMs"]["triggerExecution"] for p in timed) / 1000
    rows = sum(p["numInputRows"] for p in timed)
    res.e2e["throughput_per_s"] = rows / busy_s if busy_s else 0.0
    res.e2e["latency_p50_ms"] = percentile(lat_ms, 50)
    res.detail["samples"] = {"rows": len(lat_ms), "batches": len(timed), "beyond_p50": beyond(len(lat_ms), 50)}
    res.detail["tail"] = tail(lat_ms)
    res.detail["busy_frac"] = busy_s / window_s if window_s else 0.0
    res.detail["rate"] = {"R": RATE, "T": TRIGGER_S, "K": KEYS, "creation_phase_ms": round(created * 1000) % 1000}
    res.detail["batch_ms"] = [p["durationMs"]["triggerExecution"] for p in prog]

    state_rows = timed[-1]["stateOperators"][0]["numRowsTotal"] if timed else 0
    processed = sum(p["numInputRows"] for p in prog)
    # a batch that took longer than T leaves the next one more than R*T
    # rows: the backlog grew and the rate is past the knee
    res.check("fixed_work", bool(timed) and all(p["numInputRows"] == want_rows for p in timed), rows=[p["numInputRows"] for p in timed])
    res.check("state_rows", 0 < state_rows <= KEYS, state_rows=state_rows)
    res.check("n_updates_sum", sum(final.values()) == processed, got=sum(final.values()), want=processed)
    if tracer is not None:
        _layers(res, tracer, timed, half_at - first_timed, created, ends)
    stop_spark(spark)
    return res


def _start_on_phase(writer, attempts: int = 6):
    """Start the query so the rate source's creation time falls
    TARGET_PHASE_MS after a whole second of the trigger grid.

    The creation time trails ``start()`` by 0.5-0.9 s, and it shifts
    every row's due time: a query whose phase is off by more than
    PHASE_TOLERANCE_MS is stopped before it carried any row and started
    again, timed with the lag the previous attempt showed. Returns the
    query and the creation time in epoch seconds."""
    lag_ms = 700.0
    for i in range(attempts):
        ckpt = WORK / f"checkpoint{i}"
        now_ms = time.time() * 1000
        time.sleep(((TARGET_PHASE_MS - lag_ms - now_ms) % 1000) / 1000)
        started_ms = time.time() * 1000
        query = writer.option("checkpointLocation", str(ckpt)).start()
        created_ms = _creation_ms(ckpt)
        off = (created_ms - TARGET_PHASE_MS + 500) % 1000 - 500
        if abs(off) <= PHASE_TOLERANCE_MS or i == attempts - 1:
            return query, created_ms / 1000
        query.stop()
        lag_ms = created_ms - started_ms
    raise AssertionError("unreachable")


def _creation_ms(ckpt, timeout_s: float = 30) -> int:
    """The rate source writes its creation time into its offset log at
    the query's first trigger."""
    path = ckpt / "sources" / "0" / "0"
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            return int(path.read_text().splitlines()[1])
        except (FileNotFoundError, IndexError, ValueError):
            if time.monotonic() > deadline:
                raise
            time.sleep(0.01)


def _wait_batches(query, n: int, extra: int = 4) -> None:
    """Wait for ``n`` batches, then for up to ``extra`` more until the
    last two carried R*T rows: a slow first trigger can leave the next
    ones off the grid, splitting 2*R*T rows unevenly between two batches.
    A stream still uneven after that is left to the fixed-work check."""
    while True:
        prog = progress_dicts(query)
        aligned = all(p["numInputRows"] == RATE * TRIGGER_S for p in prog[-2:])
        if len(prog) >= n + extra or (len(prog) >= n and aligned):
            return
        if query.exception() is not None:
            raise RuntimeError(f"live stream failed during warm-up: {query.exception()}")
        time.sleep(0.05)


def _stop_between_batches(query) -> None:
    """Stop right after a batch ends, so no batch is interrupted."""
    seen = len(progress_dicts(query))
    while query.status.get("isTriggerActive") and len(progress_dicts(query)) == seen:
        time.sleep(0.01)
    query.stop()


def _install(tracer) -> None:
    from dcafs_spark.plans import dsl
    from dcafs_spark.streaming import stateful
    from perfbench.trace import trace_foreach_batch

    trace_foreach_batch(tracer)
    tracer.wrap(dsl, "compile_path", "plans.compile_path")
    tracer.wrap(stateful, "stateful_values", "stateful.stateful_values")


def _layers(res, tracer, timed, n_plain, created, ends) -> None:
    L = res.layers
    ops = [p["stateOperators"][0] for p in timed]
    L["sources.getBatch_ms"] = median([p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0) for p in timed])
    # rows due by the end of each batch but not yet processed through it
    L["sources.backlog_rows"] = median(
        [RATE * (ends[p["batchId"]] - created) - int(p["sources"][0]["endOffset"]) * RATE for p in timed]
    )
    L["plans.compile_path_ms"] = 1000 * median(tracer.durations("plans.compile_path"))
    L["plans.queryPlanning_ms"] = median([p["durationMs"].get("queryPlanning", 0) for p in timed])
    for k in ("addBatch", "walCommit", "commitOffsets"):
        L[f"runner.{k}_ms"] = median([p["durationMs"].get(k, 0) for p in timed])
    L["runner.busy_frac"] = res.detail["busy_frac"]
    L["runner.foreach_self_ms"] = 1000 * median(tracer.self_times("runner.foreach_batch"))
    L["stateful.addBatch_ms"] = L["runner.addBatch_ms"]
    L["stateful.keys_updated_per_batch"] = median([o["numRowsUpdated"] for o in ops])
    L["stateful.rows_per_key_call"] = median([p["numInputRows"] / max(o["numRowsUpdated"], 1) for p, o in zip(timed, ops)])
    L["stateful.state_rows"] = ops[-1]["numRowsTotal"]
    L["stateful.state_memory_bytes"] = ops[-1]["memoryUsedBytes"]
    L["stateful.state_commit_ms"] = median([o["commitTimeMs"] for o in ops])

    def p50(ps):
        return median([p["durationMs"]["triggerExecution"] for p in ps])

    plain, traced = timed[:n_plain], timed[n_plain:]
    L["trace.overhead_ms"] = p50(traced) - p50(plain) if plain and traced else 0.0
