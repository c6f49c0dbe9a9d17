"""Structured Streaming runner for path specs.

Parity target: the reference's main loop — stream → forwards → store
(SURVEY §3.1). One continuous query per path:

    readStream (file/rate/socket/kafka)
      → path steps (narrow, codegen-fused)
      → foreachBatch { values-store merge + trigger rules
                       ‖ sink appends ‖ reject-route appends }

The path's operators are built once per query (`dsl.build_path`) and
bound to each micro-batch's frame (`dsl.bind_steps`); only `custom`
and `valmap` steps run their code per batch. A forward edited while
the query runs is rebuilt before the next batch.

Fan-out mirrors the reference's forwards, which push each record to
every target independently (`AbstractForward.java:91-111`). A
micro-batch's input is fixed before foreachBatch runs, and the main
frame is materialized once (an eager ephemeral localCheckpoint) when
more than one consumer reads it, so the consumers are independent
readers of one immutable frame: the store merge, every sink and every
reject sink run concurrently, one thread each, inside the stream's job
group. The batch ends when all of them have; the first failure in
registration order (store, sinks, reject sinks) fails it. Sinks that
write one external target take turns themselves: `FileCollector`
serializes its writes per output directory.

The reference's flush knobs map onto the micro-batch trigger: its
JDBC buffer flushed at `batchsize` rows or `age` seconds
(`src/util/database/SqlTable.java:435-521`); here a processing-time
trigger ≈ `age`, and the sink writes whole micro-batches (far larger
than 30-row prepared-statement batches).

Out-of-order data: the reference stamps records at receive time and
has no late-data story (`Datagram.java:120-132`). `watermark`
surfaces Spark's native handling as an opt-in.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dcafs_spark.runtime import checkpoint

# compile_path stays importable from here: perfbench's traced replay
# wraps runner.compile_path (the runner itself builds once, binds per batch)
from dcafs_spark.plans.dsl import PathSpec, bind_steps, build_path, compile_path  # noqa: F401
from dcafs_spark.streaming.values_store import ValuesStore


def _fan_out(session: SparkSession, calls: list[Callable[[], Any]]) -> None:
    """Run one micro-batch's consumers at once, one thread each.

    Each thread takes the stream thread's local properties (its job
    group, so ``query.stop()`` cancels fan-out jobs too) and the
    session's tags. All calls finish before this returns; the first
    failure in registration order is re-raised, failing the batch."""
    if not calls:
        return
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        # wrap per call: each wrapper clones the properties it installs,
        # so sibling threads never share one mutable Properties object
        futures = [pool.submit(inheritable_thread_target(session)(call)) for call in calls]
    for f in futures:
        f.result()


def _spec_copy(spec: Any) -> Any:
    """Copy a path spec's dicts and lists, keeping the leaves (custom
    step callables too) as they are, so `==` tells an edited spec from
    the one a path was built from."""
    if isinstance(spec, dict):
        return {k: _spec_copy(v) for k, v in dict(spec).items()}
    if isinstance(spec, list):
        return [_spec_copy(v) for v in list(spec)]
    return spec


def kafka_options(spec: dict) -> dict[str, str]:
    """Kafka reader options from a source spec (pure function so the
    assembly is testable without the kafka connector jar present).

    Spec keys: servers (required), exactly one of topics/pattern/assign,
    optional starting_offsets (earliest|latest|json), max_per_trigger,
    group_id — mirroring the reference's MQTT/TCP subscribe settings
    (`src/mqtt/MqttWorker.java` topics, `src/io/stream/StreamManager`)."""
    opts = {"kafka.bootstrap.servers": spec["servers"]}
    subs = [k for k in ("topics", "pattern", "assign") if spec.get(k)]
    if len(subs) != 1:
        raise ValueError("kafka spec needs exactly one of topics/pattern/assign")
    key = {"topics": "subscribe", "pattern": "subscribePattern", "assign": "assign"}[subs[0]]
    opts[key] = spec[subs[0]]
    if "starting_offsets" in spec:
        opts["startingOffsets"] = spec["starting_offsets"]
    if "max_per_trigger" in spec:
        opts["maxOffsetsPerTrigger"] = str(spec["max_per_trigger"])
    if "group_id" in spec:
        opts["kafka.group.id"] = spec["group_id"]
    return opts


def build_source(spark: SparkSession, spec: dict) -> DataFrame:
    """Streaming source from a spec.

    kinds: text (file-drop dir — the FileMonitor/file-replay pattern,
    `src/util/tools/FileMonitor.java:19-132`), rate (interval ticks —
    PathForward's interval custom src), socket, kafka.
    Every source normalizes to the Datagram shape: value STRING,
    origin STRING, ts TIMESTAMP (`src/worker/Datagram.java:10-23`).
    """
    kind = spec["kind"]
    origin = spec.get("id", kind)
    if kind == "text":
        raw = spark.readStream.format("text")
        if "maxFilesPerTrigger" in spec:
            raw = raw.option("maxFilesPerTrigger", spec["maxFilesPerTrigger"])
        df = raw.load(spec["path"])
    elif kind == "rate":
        df = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", spec.get("rowsPerSecond", 10))
            .load()
            .select(F.col("value").cast("string").alias("value"), F.col("timestamp"))
        )
    elif kind == "socket":
        df = (
            spark.readStream.format("socket")
            .option("host", spec["host"])
            .option("port", spec["port"])
            .load()
        )
    elif kind == "kafka":
        df = (
            spark.readStream.format("kafka")
            .options(**kafka_options(spec))
            .load()
            .select(F.col("value").cast("string").alias("value"), F.col("timestamp"))
        )
    elif kind == "format":
        # escape hatch for external connectors (MQTT, Pulsar, ...):
        # pass the Spark format name + raw options straight through
        raw = spark.readStream.format(spec["format"]).options(**spec.get("options", {}))
        df = raw.load(spec["path"]) if "path" in spec else raw.load()
    else:
        raise ValueError(f"unknown source kind: {kind}")
    if "value" not in df.columns:
        df = df.withColumn("value", F.col(df.columns[0]).cast("string"))
    if "timestamp" in df.columns:
        df = df.withColumnRenamed("timestamp", "ts")
    elif "ts" not in df.columns:
        df = df.withColumn("ts", F.current_timestamp())
    return df.withColumn("origin", F.lit(origin))


@dataclass
class StreamingPath:
    """One continuous query: source spec + path spec + sinks."""

    spark: SparkSession
    source: dict
    path: PathSpec
    store: ValuesStore | None = None
    store_cols: dict = field(default_factory=dict)  # group/name/value/ts col names
    sinks: list[Callable[[DataFrame, int], Any]] = field(default_factory=list)
    reject_sinks: dict[str, Callable[[DataFrame, int], Any]] = field(default_factory=dict)
    watermark: str | None = None  # e.g. "10 seconds"
    trigger_seconds: float | None = None
    checkpoint: str | None = None

    def start(self, query_name: str | None = None):
        df = build_source(self.spark, self.source)
        if self.watermark:
            df = df.withWatermark("ts", self.watermark)
        built = (_spec_copy(self.path), build_path(self.path))

        def process(batch_df: DataFrame, batch_id: int) -> None:
            nonlocal built
            # forward edits (mf:addop, ef:addedit, mf:alter,delim) change
            # the spec of a running path in place; like the reference's
            # forwards they apply from the next micro-batch
            if self.path != built[0]:
                built = (_spec_copy(self.path), build_path(self.path))
            main, rejects = bind_steps(batch_df, built[1])
            # snapshot: a telnet client detaches its sink from another
            # thread, possibly in the middle of this batch
            sinks = list(self.sinks)
            if len(sinks) + (self.store is not None) > 1:
                # materialize once, fan out — but only when something
                # actually fans out: the checkpoint costs a full copy.
                # ephemeral: lifetime is this micro-batch; a failed
                # batch re-runs from the source via the streaming
                # checkpoint, so the deployment seam's reliable mode
                # would only leak per-batch checkpoint files
                main = main.transform(checkpoint, eager=True, ephemeral=True)
            calls = [partial(sink, main, batch_id) for sink in sinks]
            if self.store is not None:
                calls.insert(0, partial(self.store.merge_batch, main, **self.store_cols))
            calls += [
                partial(sink, rejects[tag], batch_id)
                for tag, sink in list(self.reject_sinks.items())
                if tag in rejects
            ]
            _fan_out(batch_df.sparkSession, calls)

        writer = df.writeStream.foreachBatch(process)
        if query_name:
            writer = writer.queryName(query_name)
        if self.trigger_seconds:
            writer = writer.trigger(processingTime=f"{self.trigger_seconds} seconds")
        if self.checkpoint:
            writer = writer.option("checkpointLocation", self.checkpoint)
        return writer.start()


def run_path_stream(
    spark: SparkSession,
    source: dict,
    path: PathSpec,
    sinks: list[Callable[[DataFrame, int], Any]],
    store: ValuesStore | None = None,
    timeout_s: float = 30.0,
    until: Callable[[], bool] | None = None,
    **kwargs,
):
    """Run a streaming path until `until()` (or timeout), then stop.
    Returns the StreamingQuery after it is stopped (for test harnesses
    and the DebugWorker-style replay pattern, SURVEY §5.1)."""
    sp = StreamingPath(spark, source, path, store=store, sinks=sinks, **kwargs)
    q = sp.start()
    deadline = time.monotonic() + timeout_s
    try:
        while time.monotonic() < deadline:
            if until is not None and until():
                break
            q.processAllAvailable()
            if until is None:
                break
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(10)
    return q
