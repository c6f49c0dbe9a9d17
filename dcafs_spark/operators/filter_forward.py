"""FilterForward: predicate rules over text lines, with if/else fork.

Parity target: reference `src/io/forward/FilterForward.java` —
rules AND-combine, first failing rule rejects (:385-406); rejected rows
go to *reverse targets* (:69-81); `negate` inverts (:174,389).

Spark-first: every rule compiles to a Catalyst boolean Column, the
whole rule set to one AND-chained predicate, so it pushes down into the
scan whenever the source format supports it. The if/else fork is the
pass/fail pair of complementary filters — Catalyst caches the common
subplan and both sides stay codegen'd.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dcafs_spark.functions.checksum import nmea_checksum_ok
from dcafs_spark.functions.mathfab import compile_math


def _rule_to_predicate(rtype: str, value: str, col: Column, delimiter: str) -> Column:
    """One rule → boolean Column (rule table: FilterForward.java:315-379)."""
    rtype = rtype.lower()
    if rtype == "start":
        opts = value.split(",")
        pred = col.startswith(opts[0])
        for o in opts[1:]:  # multi-start = OR of alternatives (:324-328)
            pred = pred | col.startswith(o)
        return pred
    if rtype == "nostart":
        return ~_rule_to_predicate("start", value, col, delimiter)
    if rtype == "end":
        return col.endswith(value)
    if rtype == "contain":
        opts = value.split(",")
        pred = col.contains(opts[0])
        for o in opts[1:]:
            pred = pred | col.contains(o)
        return pred
    if rtype == "c_start":
        # char at 1-based position k from start equals c (:335-337)
        pos, ch = value.split(",", 1)
        return F.substring(col, int(pos), 1) == ch
    if rtype == "c_end":
        pos, ch = value.split(",", 1)
        return F.substring(col, -int(pos), 1) == ch
    if rtype == "minlength":
        return F.length(col) >= int(value)
    if rtype == "maxlength":
        return F.length(col) <= int(value)
    if rtype == "minitems":
        return F.size(F.split(col, F.lit(delimiter), -1)) >= int(value)
    if rtype == "maxitems":
        return F.size(F.split(col, F.lit(delimiter), -1)) <= int(value)
    if rtype == "items":
        return F.size(F.split(col, F.lit(delimiter), -1)) == int(value)
    if rtype == "nmea":
        return nmea_checksum_ok(col)
    if rtype == "regex":
        # reference uses String.matches = FULL match. Wrap in a
        # non-capturing group before anchoring: bare '^pat$' mis-anchors
        # top-level alternation ('a|b' → '^a|b$' = (^a)|(b$), a partial
        # match) and a pattern ending in an escaped \$ would skip the
        # anchor entirely (round-11 review)
        return col.rlike(f"^(?:{value})$")
    if rtype == "math":
        # numeric predicate over split fields: 'i0 < 10 && i1 > 2' (:349-379)
        arr = F.split(col, F.lit(delimiter), -1)
        expr = compile_math(value)
        fields = lambda k: F.try_element_at(arr, F.lit(k + 1)).try_cast("double")  # noqa: E731
        return expr.column(fields=fields).cast("boolean")
    raise ValueError(f"unknown filter rule type: {rtype}")


@dataclass
class FilterForward:
    """rules: list of (type, value) applied in order, AND-combined."""

    rules: list[tuple[str, str]]
    delimiter: str = ","
    negate: bool = False
    column: str = "value"

    # built once per operator: a streaming path applies one operator to
    # every micro-batch
    @cached_property
    def predicate(self) -> Column:
        col = F.col(self.column)
        pred = F.lit(True)
        for rtype, rvalue in self.rules:
            pred = pred & _rule_to_predicate(rtype, rvalue, col, self.delimiter)
        if self.negate:
            pred = ~pred
        return pred

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(self.predicate)

    def fork(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(accepted, rejected) — rejected feeds 'reverse targets'."""
        return df.filter(self.predicate), df.filter(~self.predicate)

    def apply_with_ignores(
        self, df: DataFrame, ignores: int, order_col: str, key_cols: list[str] | None = None
    ) -> DataFrame:
        """`ignores=N`: after a passing record, the next N failing
        records pass anyway (FilterForward.java:28-29,390-404 — used to
        let a sensor's occasional glitch lines through once it has
        proven itself). Sequential semantics expressed as a window
        plan: cumulative count of passes forms run groups; within a
        group, failure #1..N after the pass survive. Deterministic
        under any partitioning (explicit ordering), one window sort
        per key partition."""
        from pyspark.sql import Window

        p = self.predicate
        part = key_cols or [F.lit(1)]
        w = Window.partitionBy(*part).orderBy(order_col)
        # failures-since-last-pass = own rank minus the rank of the most
        # recent passing row (running max of rank·pass)
        rank_all = F.row_number().over(w)
        last_pass_rank = F.max(F.when(p, rank_all)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        fails_since = rank_all - F.coalesce(last_pass_rank, F.lit(0))
        keep = p | ((F.col("_lp").isNotNull()) & (F.col("_fs") <= ignores))
        return (
            df.withColumn("_lp", last_pass_rank)
            .withColumn("_fs", fails_since)
            .filter(keep)
            .drop("_lp", "_fs")
        )
