"""Streaming realtime-value store with trigger rules + hysteresis.

Parity target: reference `src/util/data/RealtimeValues.java` (the
live store updated per record) and `RealVal.java:464-533` (triggered
commands: ``always``, ``changed``, comparison triggers with
hysteresis — a comparison trigger fires ONCE when its condition
becomes true and re-arms only after the condition clears,
`RealVal.java:527-531`).

The running-value contract, shared with ``stateful.stateful_values``
(`RealVal.java:145-182,385-414`): a key's state is ``_KeyState`` (last
value, min/max, count, sum, the last ``history_n`` values, last ts).
Rows with a NULL value or ts are not measurements and are dropped. A
batch is ordered by (ts, value) and its last row is its last value;
the latest batch wins even when its ts is older (the reference stamps
records on receipt). ``fold`` merges a batch's per-key delta and
``summary`` reads the output fields, whose ``hist_stdev`` is None
until the history ring is full.

Design (SURVEY §3.1 Spark equivalent): the stream is aggregated per
micro-batch (map-side partial agg → tiny shuffle keyed by
(group,name)), and the deltas fold into driver-side state in
``foreachBatch``.

Why driver-side state is the scale-correct choice here: the key
cardinality is the number of distinct sensor value ids — hundreds,
not billions (`RealtimeValues` is a flat in-memory map in the
reference too). Each micro-batch reduces arbitrarily many input rows
to ≤ one delta row per key BEFORE it reaches the driver, so driver
work per batch is O(#keys), independent of data volume. For
billion-key state, ``stateful.stateful_values`` holds the same
``_KeyState`` in the Spark state store and folds it with ``fold``.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dcafs_spark.functions.compare import compile_compare_py


@dataclass
class TriggerRule:
    """One triggered command on a value (AbstractVal.java:34 types)."""

    group: str
    name: str
    kind: str  # always | changed | comparison | stdev
    cmd: Callable[[str, str, float], Any] | None = None
    # comparison spec in the reference grammar: 'above 10', '< 3',
    # 'between 2 and 8', 'not below 1', ... (MathUtils.java:244-329)
    comparison: str | None = None
    fired: bool = False  # hysteresis: armed until condition clears

    def __post_init__(self):
        self._check = compile_compare_py(self.comparison) if self.comparison else None


@dataclass
class _KeyState:
    last: float | None = None
    min: float = math.inf
    max: float = -math.inf
    count: int = 0
    total: float = 0.0
    history: list[float] = field(default_factory=list)
    last_ts: Any = None


SUMMARY_FIELDS = (
    "last_value", "min_value", "max_value", "avg_value", "hist_avg", "hist_stdev", "n_updates",
)


def check_history_n(history_n: int) -> None:
    if history_n < 1:
        raise ValueError(
            f"history_n must be >= 1 (got {history_n}): a non-positive ring "
            "size would make per-key state grow unboundedly"
        )


def fold(st: _KeyState, delta: Sequence, history_n: int) -> None:
    """Merge one batch's delta for a key into ``st``. ``delta`` is
    (last, min, max, count, sum, last ts, tail): the tail holds the
    batch's last values in (ts, value) order, and last / last ts are
    its final element."""
    last, vmin, vmax, count, total, last_ts, tail = delta
    st.last = last
    st.min = min(st.min, vmin)
    st.max = max(st.max, vmax)
    st.count += count
    st.total += total
    st.last_ts = last_ts
    st.history = [*st.history, *tail][-history_n:]


def hist_stdev(hist: Sequence[float], history_n: int) -> float | None:
    """Sample stdev of the history ring; None until the ring is full
    (RealVal.java:515-521 NaN guard). It needs >= 2 points, so a
    history_n=1 ring never has one."""
    if len(hist) < max(history_n, 2):
        return None
    mean = sum(hist) / len(hist)
    return math.sqrt(sum((x - mean) ** 2 for x in hist) / (len(hist) - 1))


def summary(st: _KeyState, history_n: int) -> tuple:
    """The ``SUMMARY_FIELDS`` of one key's state."""
    hist = st.history
    return (
        st.last,
        st.min if st.count else None,
        st.max if st.count else None,
        round(st.total / st.count, 3) if st.count else None,
        round(sum(hist) / len(hist), 3) if hist else None,
        hist_stdev(hist, history_n),
        st.count,
    )


class ValuesStore:
    """Driver-side running store fed by per-batch aggregate deltas.

    ``max_keys`` guards the driver footprint: the design contract is
    rtval-style bounded key cardinality (hundreds of sensor ids, like
    the reference's flat in-memory map). Exceeding it raises with a
    pointer to ``streaming/stateful.py``'s applyInPandasWithState
    variant, which holds per-key state in the executor state store and
    scales to unbounded keys."""

    def __init__(self, history_n: int = 10, max_keys: int = 100_000):
        check_history_n(history_n)
        self.history_n = history_n
        self.max_keys = max_keys
        self.state: dict[tuple[str, str], _KeyState] = {}
        self.texts: dict[tuple[str, str], str] = {}  # TextVal store
        self.flags: dict[tuple[str, str], bool] = {}  # FlagVal store
        self.rules: list[TriggerRule] = []
        self.fired_log: list[tuple[str, str, str, float]] = []

    def add_rule(self, rule: TriggerRule) -> None:
        self.rules.append(rule)

    # ---------------------------------------------------------- batch path
    def batch_deltas(
        self, df: DataFrame, group="group", name="name", value="value", ts="ts", seq_keys=()
    ) -> DataFrame:
        """Distributed reduction: one delta row per key per batch.

        The columns after group and name are ``fold``'s delta, in its
        order. collect_list over the groupBy is bounded: only the last
        ``history_n`` (ts, value) structs are kept as the tail (avoids
        shipping whole batches driver-side), and last / last ts are the
        tail's final element.

        ``seq_keys`` (the ruled keys, few by construction) additionally
        get their full ts-ordered value sequence in ``d_seq`` — inside
        the same aggregation, so rules cost no extra job; every other
        key's ``d_seq`` is empty.

        Rows with a NULL value or ts are non-measurements (the
        reference's RealVal only updates on a parsed double) and are
        dropped up front: without the filter an all-NULL key crashes the
        merge on min(inf, None), and a NULL ts would sort first yet
        still count.
        """
        df = df.filter(F.col(value).isNotNull() & F.col(ts).isNotNull())
        tv = F.struct(F.col(ts).alias("t"), F.col(value).alias("v"))
        # no lambdas: higher-order functions (array_sort, transform) are
        # interpreted row by row inside the generated result projection;
        # sort_array and getField generate code. The arrays hold
        # non-null structs, which sort_array orders as array_sort does.
        packed = F.sort_array(F.collect_list(tv))
        # dynamic start: slice(-n) on an array shorter than n is empty,
        # so clamp to -size when the batch holds fewer than n values
        tail = F.slice(
            packed, F.greatest(F.lit(-self.history_n), -F.size(packed)), F.lit(self.history_n)
        )
        latest = F.element_at(tail, -1)  # never empty: history_n >= 1
        aggs = [
            latest.getField("v").alias("d_last"),
            F.min(value).alias("d_min"),
            F.max(value).alias("d_max"),
            F.count(value).alias("d_count"),
            F.sum(value).alias("d_sum"),
            latest.getField("t").alias("d_ts"),
            tail.getField("v").alias("d_tail"),
        ]
        if seq_keys:
            key = F.struct(F.col(group).alias("g"), F.col(name).alias("n"))
            wanted = [F.struct(F.lit(g).alias("g"), F.lit(n).alias("n")) for g, n in sorted(seq_keys)]
            # collect_list skips the NULLs when() yields for unruled rows
            seq = F.sort_array(F.collect_list(F.when(key.isin(*wanted), tv)))
            aggs.append(seq.getField("v").alias("d_seq"))
        return df.groupBy(F.col(group).alias("group"), F.col(name).alias("name")).agg(*aggs)

    def merge_batch(self, batch_df: DataFrame, **cols) -> None:
        """foreachBatch body: merge per-key deltas into running state,
        evaluate trigger rules per record (reference parity:
        RealVal.java:464-533 fires on every update, so a value that
        crosses a threshold and returns WITHIN one batch still fires,
        and 'changed' fires once per change, not once per batch).

        Ruled keys are few (one per configured triggered cmd), so only
        THEIR full ordered value sequences come back to the driver —
        every other key still reduces to one delta row distributedly,
        and both ride one aggregation job."""
        ruled = {(r.group, r.name) for r in self.rules}
        delta_rows = self.batch_deltas(batch_df, seq_keys=ruled, **cols).collect()
        for row in delta_rows:
            key = (row["group"], row["name"])
            st = self.state.setdefault(key, _KeyState())
            prev, pre_hist = st.last, st.history
            fold(st, row[2:9], self.history_n)
            if key in ruled:
                self._eval_rules_seq(key, prev, list(row["d_seq"]), pre_hist)
        if len(self.state) > self.max_keys:
            raise RuntimeError(
                f"ValuesStore key cardinality {len(self.state)} exceeds max_keys="
                f"{self.max_keys}; this driver-side store is for bounded rtval "
                "cardinality — use dcafs_spark.streaming.stateful for unbounded keys"
            )

    # -------------------------------------------------------------- rules
    def _eval_rules_seq(
        self,
        key: tuple[str, str],
        prev: float | None,
        values: list[float],
        pre_hist: list[float] | None = None,
    ) -> None:
        """Per-record trigger evaluation over the batch's ordered values.

        Value-major: each update runs through ALL of the key's rules
        before the next update (RealVal.java:464-533 fires every
        trigger per update). Rule-major iteration would let a
        clear-side rule revisit an EARLIER value after a later one
        already fired its raise-side pair — un-sequencing paired
        raise/resolve rules within a multi-record batch."""
        rules = [r for r in self.rules if (r.group, r.name) == key]
        if not rules:
            return
        p = prev
        hist = list(pre_hist or [])
        for new in values:
            hist = (hist + [new])[-self.history_n :]
            for rule in rules:
                if rule.kind == "always":
                    self._fire(rule, key, new)
                elif rule.kind == "changed":
                    if p is None or p != new:
                        self._fire(rule, key, new)
                elif rule.kind in ("comparison", "stdev"):
                    # a stdev rule compares the ring's stdev instead of
                    # the value, and waits until the ring is full
                    probe = hist_stdev(hist, self.history_n) if rule.kind == "stdev" else new
                    if probe is None:
                        continue
                    ok = rule._check(probe)
                    if ok and not rule.fired:  # fire once, then hold
                        rule.fired = True
                        self._fire(rule, key, new)  # $ renders the VALUE (RealVal.java:528)
                    elif not ok and rule.fired:  # condition cleared → re-arm
                        rule.fired = False
            p = new

    def _fire(self, rule: TriggerRule, key: tuple[str, str], value: float) -> None:
        self.fired_log.append((key[0], key[1], rule.kind, value))
        if rule.cmd is not None:
            rule.cmd(key[0], key[1], value)

    # ----------------------------------------------- text / flag values
    def merge_text_batch(self, df: DataFrame, group="group", name="name", value="value", ts="ts") -> None:
        """TextVal flavor (RealtimeValues.java:31): last text per key —
        the batch reduces to one row per key distributedly, under the
        numeric path's rules: rows with a NULL text or ts are dropped,
        and the last text is the greatest by (ts, text).

        Without the NULL filter a batch whose latest-ts row failed to
        parse overwrites a good stored text with None, and an all-NULL
        key erases the entry."""
        last = F.max(F.struct(F.col(ts).alias("t"), F.col(value).alias("v")))
        deltas = df.filter(F.col(value).isNotNull() & F.col(ts).isNotNull()).groupBy(
            F.col(group).alias("group"), F.col(name).alias("name")
        ).agg(last.getField("v").alias("d_last"))
        for row in deltas.collect():
            self.texts[(row["group"], row["name"])] = row["d_last"]

    def set_flag(self, group: str, name: str, op: str) -> bool:
        """FlagVal raise/lower/toggle (RealtimeValues.java:416-454)."""
        key = (group, name)
        cur = self.flags.get(key, False)
        if op == "raise":
            self.flags[key] = True
        elif op == "lower":
            self.flags[key] = False
        elif op == "toggle":
            self.flags[key] = not cur
        else:
            raise ValueError(f"unknown flag op {op}")
        new = self.flags[key]
        # edge commands (FlagVal.java:104-130): kind='raised'/'lowered'
        # rules fire only on the actual transition; $ renders true/false
        if new != cur:
            edge = "raised" if new else "lowered"
            for rule in self.rules:
                if (rule.group, rule.name) == key and rule.kind == edge:
                    self.fired_log.append((group, name, edge, 1.0 if new else 0.0))
                    if rule.cmd is not None:
                        rule.cmd(group, name, new)
        return new

    def get_text(self, group: str, name: str) -> str | None:
        return self.texts.get((group, name))

    def get_flag(self, group: str, name: str) -> bool:
        return self.flags.get((group, name), False)

    # ---------------------------------------------------------- group ops
    def reset_group(self, group: str) -> int:
        """Reset every value in a group to pristine stats
        (`rtvals:resetgroup` — RealtimeValues.java:854-858, RealVal
        reset :202-207): min/max/avg/history restart; the key stays
        registered. Returns #keys reset."""
        n = 0
        for key in list(self.state):
            if key[0] == group:
                self.state[key] = _KeyState()
                n += 1
        return n

    def update_group(self, group: str, value: float) -> int:
        """Set every value in a group (updateRealGroup,
        RealtimeValues.java:855-856): the forced value flows through
        min/max/avg/history like a real update. Returns #keys touched."""
        n = 0
        for key, st in self.state.items():
            if key[0] != group:
                continue
            prev, pre_hist = st.last, st.history  # rules see the real ring
            fold(st, (value, value, value, 1, value, st.last_ts, [value]), self.history_n)
            self._eval_rules_seq(key, prev, [value], pre_hist)
            n += 1
        return n

    # ------------------------------------------------------------- reads
    def snapshot(self) -> list[dict]:
        """Current-values table (rv-style listing)."""
        return [
            {
                "group": g,
                "name": n,
                **dict(zip(SUMMARY_FIELDS, summary(st, self.history_n))),
                "last_ts": st.last_ts,
            }
            for (g, n), st in sorted(self.state.items())
        ]

    def get(self, group: str, name: str) -> float | None:
        st = self.state.get((group, name))
        return None if st is None else st.last
