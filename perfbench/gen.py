"""Seeded input generators. The engine only ever sees what these make.

* ``sensor_log`` — a recorded log of ``$``-prefixed sensor lines over
  ``n_ids`` value ids with a share of malformed lines, plus the pure
  Python reduction the replay workload is checked against.
* ``live_lines`` — the synthesized line column for the live feed: every
  field is a seeded hash of the ``rate`` source's row number, so the
  feed is reproducible with no Python generator in the loop.
* ``write_tables`` — small TPC-H-style tables plus ``events`` for the
  query catalog, in the column layout the catalog reads.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field
from pathlib import Path

# ------------------------------------------------------------ sensor log

# filter -> math -> editor -> generic, the reference's path shape
REPLAY_PATH = {
    "delimiter": ",",
    "steps": [
        {"type": "filter", "rules": [["start", "$"], ["items", "4"]], "reject": "bad"},
        {"type": "math", "ops": [{"target": "i2", "formula": "i2*0.25"}]},
        {"type": "editor", "edits": [{"kind": "cutstart", "args": {"count": 1}}]},
        {
            "type": "generic",
            "fields": [
                {"name": "grp", "index": 0, "dtype": "text"},
                {"name": "name", "index": 1, "dtype": "text"},
                {"name": "val", "index": 2, "dtype": "real"},
                {"name": "seq", "index": 3, "dtype": "long"},
            ],
            "keep": ["ts"],
        },
    ],
}
# seq orders values inside a batch: the file source stamps every line of
# a chunk with the same ingest time
STORE_COLS = {"group": "grp", "name": "name", "value": "val", "ts": "seq"}
RULE_KEY = ("g0", "v000")
RULE_THRESHOLD = 500
RULE_COMPARISON = f"above {RULE_THRESHOLD}"
RAW_RANGE = (-4000, 4000)  # raw * 0.25 is exact in binary floating point


def sensor_log(seed: int, n_lines: int, n_ids: int, bad_frac: float) -> list[str]:
    """``$g<k>,v<id>,<raw>,<seq>`` lines; a malformed line is either
    noise without the ``$`` prefix or a line cut short by one field."""
    rng = random.Random(seed)
    lines = []
    for seq in range(n_lines):
        if rng.random() < bad_frac:
            if rng.random() < 0.5:
                lines.append(f"#noise {rng.randrange(10**6)}\n")
            else:
                k = rng.randrange(n_ids)
                lines.append(f"$g{k % 5},v{k:03d},{rng.randrange(*RAW_RANGE)}\n")
            continue
        k = rng.randrange(n_ids)
        lines.append(f"$g{k % 5},v{k:03d},{rng.randrange(*RAW_RANGE)},{seq}\n")
    return lines


@dataclass
class KeyStats:
    count: int = 0
    vmin: float = math.inf
    vmax: float = -math.inf
    last: float | None = None


@dataclass
class Reduction:
    """Expected outcome of replaying some chunks of a sensor log."""

    kept: int = 0
    rejected: int = 0
    keys: dict[tuple[str, str], KeyStats] = field(default_factory=dict)
    fired: int = 0


def reduce_chunks(chunks: list[list[str]]) -> Reduction:
    """Pure-Python reduction over chunks in processing order: per key
    count/min/max, last = the value with the highest seq of the latest
    batch that holds the key, and the comparison rule's hysteresis
    fires over the key's values in seq order."""
    red = Reduction()
    fired = False  # a comparison rule fires once, re-arms when it clears
    for chunk in chunks:
        latest: dict[tuple[str, str], tuple[int, float]] = {}
        ruled: list[tuple[int, float]] = []
        for line in chunk:
            parts = line.rstrip("\n").split(",")
            if not line.startswith("$") or len(parts) != 4:
                red.rejected += 1
                continue
            red.kept += 1
            key = (parts[0][1:], parts[1])
            val = int(parts[2]) * 0.25
            seq = int(parts[3])
            st = red.keys.setdefault(key, KeyStats())
            st.count += 1
            st.vmin = min(st.vmin, val)
            st.vmax = max(st.vmax, val)
            if key not in latest or seq > latest[key][0]:
                latest[key] = (seq, val)
            if key == RULE_KEY:
                ruled.append((seq, val))
        for key, (_seq, val) in latest.items():
            red.keys[key].last = val
        for _seq, val in sorted(ruled):
            above = val > RULE_THRESHOLD
            red.fired += above and not fired
            fired = above
    return red


# -------------------------------------------------------------- live feed

LIVE_PATH = {
    "delimiter": ",",
    "steps": [
        {"type": "filter", "rules": [["start", "$"], ["items", "4"]]},
        {"type": "editor", "edits": [{"kind": "cutstart", "args": {"count": 1}}]},
        {
            "type": "generic",
            "fields": [
                {"name": "group", "index": 0, "dtype": "text"},
                {"name": "name", "index": 1, "dtype": "text"},
                {"name": "value", "index": 2, "dtype": "real"},
            ],
            "keep": ["ts"],
        },
    ],
}


def live_lines(rate_df, seed: int, n_keys: int):
    """``$live,k<key>,<reading>,<row>`` from a ``rate`` source frame;
    key and reading are seeded hashes of the row number."""
    from pyspark.sql import functions as F

    v = F.col("value")
    key = F.pmod(F.xxhash64(v, F.lit(seed)), F.lit(n_keys))
    reading = F.pmod(F.xxhash64(v, F.lit(seed + 1)), F.lit(8000)) * 0.25 - 1000
    return rate_df.select(
        F.concat_ws(
            ",",
            F.lit("$live"),
            F.concat(F.lit("k"), key.cast("string")),
            reading.cast("string"),
            v.cast("string"),
        ).alias("value"),
        F.col("timestamp").alias("ts"),
    )


# ---------------------------------------------------------------- tables

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def write_tables(out_dir: Path, seed: int, sf: float) -> None:
    """TPC-H-style tables at scale factor ``sf`` (sf=0.001 gives 6,000
    lineitems) plus an ``events`` table, as parquet, one file each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5), max(int(200_000 * sf), 20)
    n_ord, n_line, n_ev = max(int(1_500_000 * sf), 50), max(int(6_000_000 * sf), 200), max(int(1_000_000 * sf), 100)

    def cents(lo: float, hi: float, n: int):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    def days(lo: str, hi: str, n: int):
        a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        return (a + rng.integers(0, int((b - a).astype(int)), n)).astype("datetime64[us]")

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")

    i32 = pa.int32()
    save("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    save("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": cents(-999.99, 9999.99, n_supp),
    })
    adj = np.array(["cold", "small", "large", "blue", "old", "new", "red", "green"])
    noun = np.array(["widget", "bolt", "rod", "anvil", "ring", "gear", "valve", "pump"])
    types = np.array(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"])
    save("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)], noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(1000, 400000, n_ord),
        "o_orderdate": days("1992-01-01", "2002-01-01", n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": cents(900, 100000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": days("1992-01-01", "2002-01-01", n_line),
    })
    gaps = rng.integers(1, 2 * 10**9 // max(n_ev // 1000, 1), n_ev)  # µs
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 50, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": cents(0, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
