"""replay_ingest — the reference's DebugWorker backfill through the whole
store path, closed loop.

A seeded recorded log is staged by ``sources.replay.replay_files`` into
fixed-size chunks. The client hands the stream one chunk and waits until
it is fully committed (values store merged, both sinks and the reject
count written) before it hands over the next, so every micro-batch
carries exactly one chunk. The path is filter -> math -> editor ->
generic, built with ``Engine.add_path``; its outputs are the
ValuesStore with one comparison rule, a csv FileCollector and a SQLite
sink, and the filter's reject route feeds a counting sink. Nothing
stateful and no catalog query runs here.
"""

from __future__ import annotations

import glob
import json
import os
import sqlite3
import time

from perfbench import gen
from perfbench.common import WORK, Result, Stopwatch, beyond, median, percentile, progress_dicts, start_spark, stop_spark, tail

WHY = (
    "DebugWorker-style log backfill: sources, path compiler, operators, the runner's "
    "fan-out checkpoint, values store and both sinks; no stateful or catalog work"
)
CHUNK_LINES = 2500  # PathForward's READ_BUFFER_SIZE: one reference read tick
WARMUP_BATCHES = 10  # the first chunk takes ~8 s; batch time keeps falling for ~15
N_IDS = 200
BAD_FRAC = 0.02


def run(seed: int, seconds: float, tracer=None) -> Result:
    from dcafs_spark.sources import replay

    res = Result("replay_ingest")
    n_chunks = WARMUP_BATCHES + int(seconds * 4) + 4  # more than the window can drain
    lines = gen.sensor_log(seed, n_chunks * CHUNK_LINES, N_IDS, BAD_FRAC)
    log = WORK / "recorded.log"
    log.write_text("".join(lines))
    chunks = [lines[i : i + CHUNK_LINES] for i in range(0, len(lines), CHUNK_LINES)]

    setup = Stopwatch()
    spark = start_spark("bench_replay_ingest")
    res.layers["session.start_s"] = setup.s()
    if tracer is not None:
        _install(tracer)
    t = time.perf_counter()
    staged = WORK / "staged"
    replay.replay_files([str(log)], str(staged), chunk_lines=CHUNK_LINES)
    res.layers["sources.stage_s"] = time.perf_counter() - t
    files = sorted(os.listdir(staged))

    from dcafs_spark.engine import Engine
    from dcafs_spark.streaming.values_store import TriggerRule

    eng = Engine(spark)
    watch = WORK / "watch"
    watch.mkdir()
    eng.add_path(
        "replay",
        {"kind": "text", "path": str(watch), "maxFilesPerTrigger": 1},
        gen.REPLAY_PATH,
        store_cols=gen.STORE_COLS,
    )
    eng.add_trigger(TriggerRule(*gen.RULE_KEY, "comparison", comparison=gen.RULE_COMPARISON))
    eng.add_file_sink("replay", str(WORK / "file_sink"), fmt="csv")
    db = WORK / "sink.db"
    sqlite_sink = eng.add_sqlite_sink("replay", str(db), "lines")
    rejected = [0]
    eng.add_sink("replay", lambda df, _bid: rejected.__setitem__(0, rejected[0] + df.count()), reject_tag="bad")
    query = eng.start("replay", checkpoint=str(WORK / "checkpoint"))

    fed = 0
    failed: list[str] = []

    def feed_one() -> bool:
        """Hand over the next chunk and wait for its commit; False once
        the stream failed or a batch dead-lettered SQLite rows."""
        nonlocal fed
        dead = len(sqlite_sink.dead_letter)
        os.rename(staged / files[fed], watch / files[fed])
        fed += 1
        try:
            query.processAllAvailable()
        except Exception as exc:  # noqa: BLE001 — a raised batch is a failed operation
            failed.append(f"batch raised: {type(exc).__name__}: {str(exc)[:200]}")
            return False
        if len(sqlite_sink.dead_letter) > dead:
            failed.append(f"batch dead-lettered {len(sqlite_sink.dead_letter) - dead} rows")
        return True

    warm = time.perf_counter()
    ok = all(feed_one() for _ in range(WARMUP_BATCHES))
    res.layers["session.warmup_s"] = time.perf_counter() - warm
    res.e2e["setup_s"] = setup.s()

    # timed window; the traced run spends its first half untraced so the
    # same process yields the tracing overhead
    window_t0 = time.perf_counter()
    traced_flags = []
    while ok and time.perf_counter() - window_t0 < seconds and fed < len(files):
        if tracer is not None:
            tracer.enabled = time.perf_counter() - window_t0 >= seconds / 2
        traced_flags.append(tracer is not None and tracer.enabled)
        ok = feed_one()
    window_s = time.perf_counter() - window_t0
    if tracer is not None:
        tracer.enabled = False
    query.stop()

    prog = progress_dicts(query)
    res.detail["batch_ms"] = [p["durationMs"]["triggerExecution"] for p in prog]
    timed = prog[WARMUP_BATCHES:]
    lat_ms = [p["durationMs"]["triggerExecution"] for p in timed]
    res.attempted = len(traced_flags)
    res.failed = len(failed)
    res.detail["failures"] = failed
    res.e2e["throughput_per_s"] = len(timed) * CHUNK_LINES / window_s
    res.e2e["latency_p50_ms"] = percentile(lat_ms, 50)
    res.detail["busy_frac"] = sum(p["durationMs"]["triggerExecution"] for p in timed) / 1000 / window_s
    res.detail["samples"] = {"batches": len(timed), "beyond_p50": beyond(len(timed), 50)}
    res.detail["tail"] = tail(lat_ms)

    _check(res, chunks, WORK / "checkpoint", eng, db, rejected[0], fed)
    if tracer is not None:
        _layers(res, tracer, spark, eng, timed, traced_flags, sqlite_sink, watch)
    stop_spark(spark)
    return res


def _processed_chunks(checkpoint) -> list[list[str]]:
    """File names per batch, from the file source's own metadata log
    (numbered batch files plus the periodic ``N.compact`` roll-ups)."""
    per_batch: dict[int, set[str]] = {}
    for f in (checkpoint / "sources" / "0").iterdir():
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.strip():
                e = json.loads(line)
                per_batch.setdefault(e["batchId"], set()).add(os.path.basename(e["path"]))
    return [sorted(per_batch[b]) for b in sorted(per_batch)]


def _check(res: Result, chunks, checkpoint, eng, db, rejected, fed) -> None:
    per_batch = _processed_chunks(checkpoint)
    names = [n for batch in per_batch for n in batch]
    order = [int(n.split("_")[1].split(".")[0]) for n in names]
    res.check(
        "fixed_work",  # every batch drained exactly one full chunk
        len(names) == fed and all(len(b) == 1 for b in per_batch) and all(len(chunks[i]) == CHUNK_LINES for i in order),
        batches=len(per_batch),
        fed=fed,
    )
    red = gen.reduce_chunks([chunks[i] for i in order])

    con = sqlite3.connect(db)
    try:
        sql_rows = con.execute("SELECT COUNT(*) FROM lines").fetchone()[0]
    finally:
        con.close()
    file_rows = 0
    for part in glob.glob(str(WORK / "file_sink" / "*.csv")):
        with open(part) as fh:
            file_rows += sum(1 for _ in fh)
    res.check("sqlite_rows", sql_rows == red.kept, got=sql_rows, want=red.kept)
    res.check("file_rows", file_rows == red.kept, got=file_rows, want=red.kept)
    res.check("rejects", rejected == red.rejected, got=rejected, want=red.rejected)
    snap = {(r["group"], r["name"]): r for r in eng.values()}
    bad = [
        k
        for k, st in red.keys.items()
        if k not in snap
        or snap[k]["n_updates"] != st.count
        or snap[k]["min_value"] != st.vmin
        or snap[k]["max_value"] != st.vmax
        or snap[k]["last_value"] != st.last
    ]
    res.check("store_keys", not bad and len(snap) == len(red.keys), mismatched=len(bad), keys=len(snap))
    res.check("rules_fired", len(eng.store.fired_log) == red.fired, got=len(eng.store.fired_log), want=red.fired)
    res.detail["kept_frac"] = red.kept / max(red.kept + red.rejected, 1)
    res.detail["kept_per_batch"] = red.kept / max(len(per_batch), 1)


def _install(tracer) -> None:
    from dcafs_spark.sinks.db import SqliteSink
    from dcafs_spark.sinks.file_collector import FileCollector
    from dcafs_spark.streaming import runner
    from dcafs_spark.streaming.values_store import ValuesStore
    from perfbench.trace import trace_foreach_batch

    trace_foreach_batch(tracer)
    tracer.wrap(runner, "compile_path", "plans.compile_path")
    tracer.wrap(runner, "checkpoint", "runner.checkpoint")
    tracer.wrap(FileCollector, "write_batch", "sinks.file_write")
    tracer.wrap(SqliteSink, "write_batch", "sinks.sqlite_write")
    tracer.merge_jobs = []

    def make(orig):
        # span the merge and count the jobs it issues: foreachBatch runs
        # on the stream thread, whose job group is the query's run id
        def merge_batch(self, batch_df, **cols):
            if not tracer.enabled:
                return orig(self, batch_df, **cols)
            sc = batch_df.sparkSession.sparkContext
            group = sc.getLocalProperty("spark.jobGroup.id")
            before = set(sc.statusTracker().getJobIdsForGroup(group))
            with tracer.span("values_store.merge_batch"):
                out = orig(self, batch_df, **cols)
            tracer.merge_jobs.append(len(set(sc.statusTracker().getJobIdsForGroup(group)) - before))
            return out

        return merge_batch

    tracer.patch(ValuesStore, "merge_batch", make)


def _layers(res, tracer, spark, eng, timed, traced_flags, sqlite_sink, watch) -> None:
    from dcafs_spark.plans.dsl import compile_path
    from dcafs_spark.sources.replay import read_lines

    L = res.layers
    traced = [p for p, on in zip(timed, traced_flags) if on]
    plain = [p for p, on in zip(timed, traced_flags) if not on]

    def ms(name):
        return 1000 * median(tracer.durations(name))

    L["sources.getBatch_ms"] = median([p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0) for p in timed])
    L["plans.compile_path_ms"] = ms("plans.compile_path")
    L["plans.queryPlanning_ms"] = median([p["durationMs"].get("queryPlanning", 0) for p in timed])
    L["runner.checkpoint_ms"] = ms("runner.checkpoint")
    for k in ("addBatch", "walCommit", "commitOffsets"):
        L[f"runner.{k}_ms"] = median([p["durationMs"].get(k, 0) for p in timed])
    L["runner.busy_frac"] = res.detail["busy_frac"]
    L["runner.foreach_self_ms"] = 1000 * median(tracer.self_times("runner.foreach_batch"))
    L["values_store.merge_ms"] = ms("values_store.merge_batch")
    L["values_store.jobs_per_batch"] = median(tracer.merge_jobs)
    L["values_store.keys"] = len(eng.store.state)
    L["values_store.rules_fired"] = len(eng.store.fired_log)
    L["sinks.file_write_ms"] = ms("sinks.file_write")
    L["sinks.sqlite_write_ms"] = ms("sinks.sqlite_write")
    L["sinks.sqlite_rows_per_s"] = res.detail["kept_per_batch"] / (L["sinks.sqlite_write_ms"] / 1000)
    L["sinks.sqlite_dead_letter_rows"] = len(sqlite_sink.dead_letter)
    L["operators.kept_frac"] = res.detail["kept_frac"]

    def p50(ps):
        return median([p["durationMs"]["triggerExecution"] for p in ps])

    L["trace.overhead_ms"] = p50(traced) - p50(plain) if traced and plain else 0.0
    # one staged chunk as a static frame: scan alone vs the compiled path
    chunk = str(min(watch.iterdir()))
    scans, paths = [], []
    for _ in range(5):
        df = read_lines(spark, chunk)
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        scans.append(time.perf_counter() - t)
        main, _rej = compile_path(df, gen.REPLAY_PATH)
        t = time.perf_counter()
        main.write.format("noop").mode("overwrite").save()
        paths.append(time.perf_counter() - t)
    L["operators.scan_ms"] = 1000 * median(scans[1:])
    L["operators.path_exec_ms"] = 1000 * median(paths[1:])

