"""Arbitrary-stateful streaming values: applyInPandasWithState.

The driver-side ValuesStore (values_store.py) is right when key
cardinality = #sensor ids (the reference's regime). This module is the
scale-out variant SURVEY §4.2 calls for: per-key state lives in the
Spark state store (RocksDB-backed on a real cluster, checkpointed,
sharded across executors), so the key space can be unbounded, with no
driver involvement. The running-value contract is values_store.py's:
the state is its ``_KeyState`` (``STATE_SCHEMA`` has the same fields in
the same order), and each update goes through its ``fold`` and
``summary``."""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dcafs_spark.streaming.values_store import SUMMARY_FIELDS, _KeyState, check_history_n, fold, summary

STATE_SCHEMA = StructType(
    [
        StructField("last", DoubleType()),
        StructField("vmin", DoubleType()),
        StructField("vmax", DoubleType()),
        StructField("cnt", LongType()),
        StructField("total", DoubleType()),
        StructField("hist", ArrayType(DoubleType())),
        StructField("last_ts", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("group", StringType()),
        StructField("name", StringType()),
        StructField("last_value", DoubleType()),
        StructField("min_value", DoubleType()),
        StructField("max_value", DoubleType()),
        StructField("avg_value", DoubleType()),
        StructField("hist_avg", DoubleType()),
        StructField("hist_stdev", DoubleType()),
        StructField("n_updates", LongType()),
    ]
)


_OUT_COLS = ["group", "name", *SUMMARY_FIELDS]


def _update_fn(history_n: int):
    import numpy as np

    def update(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        # Runs once per KEY per micro-batch, so the per-call constant is
        # the addBatch knee: numpy forms here, not pandas (dropna and
        # sort_values cost ~1.2 ms a call against ~15 µs). A key may
        # span several Arrow chunks in arbitrary order, so all chunks
        # join before one (ts, value) sort.
        vlist, tlist = [], []
        for p in pdfs:
            v = p["value"].to_numpy(dtype=float, copy=False)
            t = p["ts"].to_numpy(dtype=float, copy=False)
            keep = ~(np.isnan(v) | np.isnan(t))
            if not keep.all():
                v, t = v[keep], t[keep]
            if len(v):
                vlist.append(v)
                tlist.append(t)
        if not vlist:  # nothing to measure: the key is not updated
            return
        v = np.concatenate(vlist) if len(vlist) > 1 else vlist[0]
        t = np.concatenate(tlist) if len(tlist) > 1 else tlist[0]
        order = np.lexsort((v, t))
        v, t = v[order], t[order]
        st = _KeyState(*state.get) if state.exists else _KeyState()
        tail = v[-history_n:].tolist()
        delta = (tail[-1], float(v.min()), float(v.max()), len(v), float(v.sum()), float(t[-1]), tail)
        fold(st, delta, history_n)
        # the fields in STATE_SCHEMA order; astuple would deep-copy (~20 µs)
        state.update(tuple(vars(st).values()))
        # one-row output via a pre-shaped object ndarray: 121 µs vs
        # 255-316 µs for the list-of-tuples constructor (×~2000 keys
        # per batch that difference is ~0.4 s of addBatch). Object
        # dtype keeps None → NULL for the nullable double fields — a
        # typed template would coerce None to NaN, which Arrow ships
        # as NaN, not NULL.
        out = np.empty((1, len(_OUT_COLS)), dtype=object)
        out[0] = (key[0], key[1], *summary(st, history_n))
        yield pd.DataFrame(out, columns=_OUT_COLS)

    return update


def stateful_values(
    stream_df: DataFrame,
    history_n: int = 10,
    group: str = "group",
    name: str = "name",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Streaming DataFrame → per-key running aggregates, state in the
    Spark state store. Emits one row per updated key per micro-batch
    (update semantics, like the reference's per-record rtvals push).
    NULL values/timestamps are ignored (not counted, not stored).

    history_n must be ≥ 1: it bounds the per-key ring buffer, which is
    what keeps state-store size O(#keys) instead of O(#rows)."""
    from pyspark.sql import functions as F

    check_history_n(history_n)

    keyed = stream_df.select(
        F.col(group).alias("group"),
        F.col(name).alias("name"),
        F.col(value).cast("double").alias("value"),
        F.col(ts).cast("double").alias("ts"),
    )
    return keyed.groupBy("group", "name").applyInPandasWithState(
        _update_fn(history_n),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
