"""query_catalog — the ``sql:``/analytics use, closed loop with one client.

Seeded TPC-H-style tables and ``events`` are generated into the
checkout. The client then runs catalog queries in registry order, each
built by its ``QUERIES`` callable and executed with a noop write, with
``clear_training_memos()`` before it, and starts the next only when the
previous one finished. The set-up pass collects every query once and
checks it against its DuckDB oracle.

Which queries: the first three entries of the registry; they read only
the generated tables (most later entries need the document and
embedding corpora). A cold oracle pass over them plus five warm passes
costs about 20 s on 4 cores, which is what fits the set-up budget of one
run; with fewer warm passes the timed window still rides the warm-up and
runs differ by 20 %. An odd count keeps the median inside one query's
cluster of times instead of on the gap between two.
"""

from __future__ import annotations

import contextlib
import time

from perfbench import gen
from perfbench.common import WORK, Result, Stopwatch, beyond, median, percentile, start_spark, stop_spark, tail

WHY = (
    "catalog queries beside the ingest path: plan build in Python plus execution "
    "of the queries module, no streaming"
)
SF = 0.01
QUERY_NAMES = (
    "pricing_summary",
    "filter_fork",
    "math_forward",
)
WARM_PASSES = 5


def run(seed: int, seconds: float, tracer=None) -> Result:
    res = Result("query_catalog")
    tables = WORK / "tables"
    gen.write_tables(tables, seed, SF)
    sf_dir = str(tables)

    setup = Stopwatch()
    spark = start_spark("bench_query_catalog")
    res.layers["session.start_s"] = setup.s()

    from dcafs_spark.queries import QUERIES, clear_training_memos

    warm = time.perf_counter()
    _oracle_pass(res, spark, sf_dir, QUERIES)
    for _ in range(WARM_PASSES):
        for name in QUERY_NAMES:
            clear_training_memos()
            QUERIES[name][0](spark, sf_dir).write.format("noop").mode("overwrite").save()
    res.layers["session.warmup_s"] = time.perf_counter() - warm
    res.e2e["setup_s"] = setup.s()

    sc = spark.sparkContext
    span = tracer.span if tracer is not None else (lambda *_: contextlib.nullcontext())
    samples: list[dict] = []
    window_t0 = time.perf_counter()
    i = 0
    # whole passes only, so every run times the same mix of queries
    while i % len(QUERY_NAMES) or time.perf_counter() - window_t0 < seconds:
        name = QUERY_NAMES[i % len(QUERY_NAMES)]
        group = f"bench_q{i}"
        if tracer is not None:  # the first half stays untraced: tracing overhead
            tracer.enabled = time.perf_counter() - window_t0 >= seconds / 2
            sc.setJobGroup(group, name)
        clear_training_memos()
        t0 = time.perf_counter()
        try:
            with span("queries.build", name):
                df = QUERIES[name][0](spark, sf_dir)
            t1 = time.perf_counter()
            with span("queries.exec", name):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            samples.append({"name": name, "build": t1 - t0, "exec": t2 - t1, "group": group,
                            "traced": tracer is not None and tracer.enabled})
        except Exception as exc:  # noqa: BLE001 — a raised query is a failed operation
            res.failed += 1
            res.detail.setdefault("errors", []).append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
        i += 1
    window_s = time.perf_counter() - window_t0
    if tracer is not None:
        tracer.enabled = False
        sc.setLocalProperty("spark.jobGroup.id", None)

    res.attempted = i
    lat_ms = [1000 * (s["build"] + s["exec"]) for s in samples]
    res.e2e["throughput_per_s"] = len(samples) / window_s
    res.e2e["latency_p50_ms"] = percentile(lat_ms, 50)
    res.detail["query_ms"] = [[s["name"], round(1000 * s["build"]), round(1000 * s["exec"])] for s in samples]
    res.detail["samples"] = {"queries": len(samples), "beyond_p50": beyond(len(samples), 50)}
    res.detail["tail"] = tail(lat_ms)
    res.check("no_failed_queries", res.failed == 0)
    if tracer is not None:
        _layers(res, spark, samples)
    stop_spark(spark)
    return res


def _oracle_pass(res: Result, spark, sf_dir: str, queries) -> None:
    """Collect every query once and compare its digest with DuckDB's
    (the rule of ``scripts/check_oracle.py``)."""
    import duckdb

    from dcafs_spark.queries import clear_training_memos
    from scripts.check_oracle import table_digest

    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        mismatched = []
        for name in QUERY_NAMES:
            fn, sql = queries[name]
            clear_training_memos()
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [[r[c] for c in scols] for r in sdf.collect()]
            if sql is None:
                continue
            dtab = con.execute(sql).fetch_arrow_table()
            dcols = list(dtab.column_names)
            drows = [[r[c] for c in dcols] for r in dtab.to_pylist()]
            if sorted(scols) != sorted(dcols) or table_digest(scols, srows)[0] != table_digest(dcols, drows)[0]:
                mismatched.append(name)
    finally:
        con.close()
    res.check("oracle_digests", not mismatched, mismatched=mismatched)


def _layers(res: Result, spark, samples: list[dict]) -> None:
    L = res.layers
    st = spark.sparkContext.statusTracker()
    traced = [s for s in samples if s["traced"]]
    plain = [s for s in samples if not s["traced"]]
    jobs, stages, tasks, failed = [], [], [], []
    for s in traced:
        ids = st.getJobIdsForGroup(s["group"])
        stage_ids = [sid for j in ids if (info := st.getJobInfo(j)) for sid in info.stageIds]
        infos = [x for sid in stage_ids if (x := st.getStageInfo(sid))]
        jobs.append(len(ids))
        stages.append(len(stage_ids))
        tasks.append(sum(x.numTasks for x in infos))
        failed.append(sum(x.numFailedTasks for x in infos))
    build = sum(s["build"] for s in traced)
    exe = sum(s["exec"] for s in traced)
    n = max(len(traced), 1)
    L["queries.build_s"] = median([s["build"] for s in traced])
    L["queries.exec_s"] = median([s["exec"] for s in traced])
    L["queries.build_frac"] = build / (build + exe) if traced else 0.0
    L["queries.jobs"] = sum(jobs) / n
    L["queries.stages"] = sum(stages) / n
    L["queries.tasks"] = sum(tasks) / n
    L["queries.failed_tasks"] = sum(failed)
    L["queries.trained_s"] = sum(s["build"] + s["exec"] for s in traced if s["name"].endswith("_trained"))

    # per query name: traced-half median minus untraced-half median
    diffs = []
    for name in QUERY_NAMES:
        on = [s["build"] + s["exec"] for s in traced if s["name"] == name]
        off = [s["build"] + s["exec"] for s in plain if s["name"] == name]
        if on and off:
            diffs.append(1000 * (median(on) - median(off)))
    L["trace.overhead_ms"] = median(diffs) if diffs else 0.0
