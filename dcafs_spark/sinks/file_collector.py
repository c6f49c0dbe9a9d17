"""FileCollector: rolled-over, decimated, headered file sink.

Parity target: reference `src/io/collector/FileCollector.java` —
append lines to a file with batch/age flush (:122-216), a header
written once (:35-70), time-based rollover with optional zip
(:157-168), max-size splitting, and `skipcount` decimation.

Spark-first mapping:
  * flush-by-batch/age  → micro-batch boundaries (streaming) or a
    single job (batch); no custom buffering.
  * rollover units MIN/HOUR/DAY/WEEK/MONTH/YEAR → `partitionBy` on a
    `date_trunc` column: the sink directory becomes
    `.../rollover=2026-08-13T14:00/part-*.txt`. Writing is fully
    parallel — each task streams its partition; nothing is
    single-writer like the reference.
  * skipcount decimation → keep every Nth record per key — expressed
    with a window row_number so it is deterministic under
    re-partitioning (monotonically_increasing_id is NOT stable across
    retries; row_number over an explicit ordering is).
  * header → written as a `_header` sidecar file once (parquet/csv
    formats carry schema natively; text gets the sidecar).

At 100 TB: partitionBy(rollover) keeps files time-clustered for
pruning; writers scale with tasks; decimation pushes down to a
window + filter before the shuffle-free write.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_ROLLOVER_TRUNC = {
    "min": "minute",
    "minute": "minute",
    "hour": "hour",
    "day": "day",
    "week": "week",
    "month": "month",
    "year": "year",
}

# Spark's file commit stages each job under `<path>/_temporary/0` and
# the first job to commit deletes it, so two appends to one directory
# at once fail. A path's sinks run concurrently; writers to one
# directory (one collector attached twice, or two collectors sharing
# it) take turns.
_dir_locks: dict[str, threading.Lock] = {}
_dir_locks_guard = threading.Lock()


def _dir_lock(path: str) -> threading.Lock:
    with _dir_locks_guard:
        return _dir_locks.setdefault(os.path.abspath(path), threading.Lock())


def decimate(df: DataFrame, skipcount: int, order_col: str, key_cols: list[str] | None = None) -> DataFrame:
    """Keep every (skipcount+1)th record (reference `skipcount` —
    FileCollector.java:40: 'write one, skip N').

    Scale note: global every-Nth is inherently sequential — without
    `key_cols` the window runs in ONE task (correct for the
    reference's per-sink line streams, which are single-sequence by
    nature; matches its serial writer). At corpus scale pass
    `key_cols` so each key decimates its own sequence in parallel.
    Ties on `order_col` keep an arbitrary-but-fixed member under one
    layout; give the order column unique values (or add a tiebreak
    column) where exact reproducibility across repartitions matters."""
    if skipcount <= 0:
        return df
    part = key_cols or [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") - 1) % (skipcount + 1) == 0)
        .drop("_rn")
    )


@dataclass
class FileCollector:
    """``zip_rollover`` maps the reference's zip-on-rollover
    (FileCollector.java:157-168) to the Spark-native equivalent: the
    writer emits gzip-compressed part files directly (text/csv codec
    option; parquet compresses internally) — no post-hoc rezip pass, and
    compression scales with write tasks. ``max_records_per_file`` maps
    the max-size split (:175-184): Spark's maxRecordsPerFile splits each
    task's output at N records, the distributed analogue of a byte
    limit (bytes/record is stable for sensor lines)."""

    path: str
    fmt: str = "text"  # text | csv | parquet
    rollover: str | None = None  # min|hour|day|week|month|year
    # "every N units" (reference rollover count, FileCollector.java:157):
    # multiples of min/hour/day bucket by epoch floor-division; week/
    # month/year multiples fall back to every-1 (calendar multiples have
    # no fixed-width epoch bucket)
    rollover_count: int = 1
    skipcount: int = 0
    header: str | None = None
    ts_col: str = "ts"
    value_col: str = "value"
    zip_rollover: bool = False
    max_records_per_file: int | None = None

    def _prepare(self, df: DataFrame) -> tuple[DataFrame, list[str]]:
        parts: list[str] = []
        if self.skipcount:
            df = decimate(df, self.skipcount, self.ts_col)
        if self.rollover:
            unit = _ROLLOVER_TRUNC[self.rollover.lower()]
            secs = {"minute": 60, "hour": 3600, "day": 86400}.get(unit)
            if self.rollover_count > 1 and secs is not None:
                width = secs * self.rollover_count
                bucket = F.timestamp_seconds(
                    F.expr(f"unix_timestamp({self.ts_col}) DIV {width}") * width
                )
            else:
                bucket = F.date_trunc(unit, F.col(self.ts_col))
            df = df.withColumn(
                "rollover", F.date_format(bucket, "yyyy-MM-dd'T'HH.mm")
            )
            parts = ["rollover"]
        if self.fmt == "text":
            df = df.select(*parts, F.col(self.value_col).cast("string").alias("value"))
        return df, parts

    def _write_header(self) -> None:
        if self.header is None:
            return
        os.makedirs(self.path, exist_ok=True)
        marker = os.path.join(self.path, "_header")
        if not os.path.exists(marker):  # written once; change-detected
            with open(marker, "w") as fh:
                fh.write(self.header + "\n")
        else:
            with open(marker) as fh:
                if fh.read().rstrip("\n") != self.header:
                    with open(marker, "w") as fh2:
                        fh2.write(self.header + "\n")

    def write_batch(self, df: DataFrame, mode: str = "append") -> None:
        out, parts = self._prepare(df)
        writer = out.write.mode(mode)
        if parts:
            writer = writer.partitionBy(*parts)
        if self.zip_rollover and self.fmt in ("text", "csv"):
            writer = writer.option("compression", "gzip")
        if self.max_records_per_file:
            writer = writer.option("maxRecordsPerFile", self.max_records_per_file)
        with _dir_lock(self.path):
            writer.format(self.fmt).save(self.path)
            # header sidecar AFTER the save: mode="overwrite" wipes the
            # output directory, so a header written first would vanish
            # with it. Driver-local filesystem only (the reference writes
            # local files too); a remote URI sink would need a
            # Hadoop-FS write here instead of os.open.
            self._write_header()

    def foreach_batch(self):
        """Adapter for StreamingPath.sinks."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.write_batch(batch_df, mode="append")

        return _sink
