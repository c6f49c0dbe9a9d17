"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same configs are what we'd set on a
real cluster (AQE on, skew-join handling, sensible shuffle partitions).
Timezone is pinned to UTC so timestamp semantics match the DuckDB oracle
and are deterministic across hosts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "dcafs_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    At 100 TB these same knobs apply: AQE coalesces post-shuffle
    partitions and splits skewed ones at runtime, so a static
    ``shuffle.partitions`` only needs to be an upper bound sized to the
    cluster (e.g. 2-3x total cores), not hand-tuned per query.

    On a local master, streaming checkpoints go through Spark's
    FileSystem-based checkpoint file manager instead of its default
    FileContext one. Every micro-batch writes its offset WAL, commit
    log, file-source log and state-store files through that manager; a
    FileContext ``createAtomic`` + close took 29.7 ms against 7.4 ms
    for the FileSystem one (p50 of 35 writes, py4j included, 4-core VM
    without the native Hadoop library, where Hadoop forks a process for
    file permissions: 20 forks per FileContext write, 4 per FileSystem
    write). Spark defaults to FileContext
    because its rename refuses to overwrite, which keeps the write
    atomic on HDFS; on a local file system a POSIX rename overwrites
    under either manager, so local sessions give nothing up. Cluster
    sessions keep Spark's default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata stores TIMESTAMP(NANOS) parquet; Spark has no
        # ns timestamps — read as long, convert at the edge (queries._events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # reliable-mode lineage cuts (runtime.checkpoint) write real
        # checkpoint files; let the ContextCleaner delete them once the
        # backing RDD is GC'd, or a long session accumulates one
        # directory per cut (this conf is context-creation-time only)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    spark = builder.getOrCreate()
    if spark.sparkContext.master.startswith("local"):
        spark.conf.set(CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER)
    return spark


def ensure_parallelism(
    df: DataFrame, min_parts: int | None = None, path_hint: str | None = None
) -> DataFrame:
    """Repartition iff the plan has fewer partitions than cores.

    Small single-row-group parquet files scan as 1-2 tasks, starving a
    compute-heavy downstream map (minhash/simhash over documents). At
    real scale the scan already yields thousands of splits, so this is
    a no-op there — the repartition (one pass over the projected
    columns) only fires on under-split inputs where the downstream
    per-row compute dominates it by 10-100x.

    ``path_hint`` (round 14): the backing file/dir when the caller
    knows it — skips the ``df.inputFiles()`` py4j roundtrip (~15-25 ms
    per call, paid by every query build) for the same size estimate.
    """
    spark = df.sparkSession
    if min_parts is None:
        min_parts = spark.sparkContext.defaultParallelism
    # Estimate scan splits from file sizes vs maxPartitionBytes — pure
    # metadata, no .rdd materialization (which forces plan analysis and
    # reads misleading numbers under AQE). Non-file-backed plans (no
    # inputFiles) just repartition.
    try:
        if path_hint is not None and os.path.exists(path_hint):
            if os.path.isdir(path_hint):
                files = [
                    os.path.join(path_hint, f)
                    for f in os.listdir(path_hint)
                    if not f.startswith(("_", "."))
                ]
            else:
                files = [path_hint]
        else:
            files = df.inputFiles()
        max_bytes = int(spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20)))
        splits = 0
        for f in files:
            p = f.removeprefix("file:")
            sz = os.path.getsize(p) if os.path.exists(p) else max_bytes
            splits += max(1, -(-sz // max_bytes))
    except Exception:  # noqa: BLE001 — e.g. streaming/in-memory sources
        splits = 0
    if splits < min_parts:
        return df.repartition(min_parts)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load the driver-provided parquet tables and register temp views."""
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
