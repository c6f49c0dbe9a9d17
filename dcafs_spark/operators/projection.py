"""Ingest projection: Generic/store (delimited → typed row) and ValMap.

Parity targets: reference `src/worker/Generic.java:189-337` (split on
delimiter or extract-all-numbers 'nrs' mode; per-entry typed parse with
defaults; filler pseudo-columns for timestamps; startswith guard) and
`src/worker/ValMap.java:41-75` (key/value lines).

Spark-first: one `select` with `try_cast` + `coalesce` per field — bad
values fall back to the declared default instead of killing the row
(the reference's per-field error counters become a dead-letter filter
the caller can take from `errors()`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TYPES = {"real": "double", "integer": "int", "int": "int", "text": "string", "flag": "boolean", "long": "long"}

_NUMBER_RE = r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"


@dataclass
class Field:
    name: str
    index: int
    dtype: str = "real"  # real | integer | text | flag | long
    default: object | None = None


@dataclass
class Generic:
    fields: list[Field]
    delimiter: str = ","
    startswith: str = ""
    nrs_mode: bool = False  # 'nrs': extract all numbers via regex (Tools.java:338-344)
    column: str = "value"
    fillers: dict[str, str] = field(default_factory=dict)  # name -> timestamp|epoch|localdt|utcdt

    def _array(self) -> Column:
        col = F.col(self.column)
        if self.nrs_mode:
            return F.regexp_extract_all(col, F.lit(_NUMBER_RE), 0)
        return F.split(col, F.lit(self.delimiter), -1)

    def _cast(self, raw: Column, f: Field) -> Column:
        t = _TYPES[f.dtype]
        if t == "string":
            out = raw
        elif t == "boolean":
            out = F.when(F.lower(raw).isin("true", "1", "yes", "high"), F.lit(True)).when(
                F.lower(raw).isin("false", "0", "no", "low"), F.lit(False)
            )
        else:
            out = F.trim(raw).try_cast(t)
        if f.default is not None:
            out = F.coalesce(out, F.lit(f.default).cast(t))
        return out

    # guard and select list are built once per operator: a streaming
    # path applies one operator to every micro-batch
    @cached_property
    def guard(self) -> Column:
        if self.startswith:
            return F.col(self.column).startswith(self.startswith)
        return F.lit(True)

    @cached_property
    def _select(self) -> list[Column]:
        arr = self._array()
        cols = [self._cast(F.try_element_at(arr, F.lit(f.index + 1)), f).alias(f.name) for f in self.fields]
        for name, kind in self.fillers.items():
            if kind in ("timestamp", "localdt", "utcdt"):
                cols.append(F.current_timestamp().alias(name))
            elif kind == "epoch":
                cols.append((F.unix_millis(F.current_timestamp())).alias(name))
        return cols

    def apply(self, df: DataFrame, keep: list[str] | None = None) -> DataFrame:
        if self.startswith:
            df = df.filter(self.guard)
        return df.select(*(keep or []), *self._select)

    def errors(self, df: DataFrame) -> DataFrame:
        """Rows where any non-defaulted typed field fails to parse —
        the dead-letter channel (reference keeps per-field error
        counters, Generic.java:229-292)."""
        arr = self._array()
        bad = F.lit(False)
        for f in self.fields:
            t = _TYPES[f.dtype]
            if t in ("string", "boolean") or f.default is not None:
                continue
            raw = F.try_element_at(arr, F.lit(f.index + 1))
            bad = bad | (F.trim(raw).try_cast(t).isNull() & raw.isNotNull())
        return df.filter(self.guard).filter(bad)


def valmap(
    df: DataFrame,
    split: str = ":",
    multi_delimiter: str | None = None,
    column: str = "value",
    remaps: dict[str, dict[str, str]] | None = None,
) -> DataFrame:
    """key<split>value lines (optionally several records per line) →
    (key, value) rows. Reference `src/worker/ValMap.java:41-75`.

    `remaps` is the reference's per-key value-conversion table
    (`ValMap.Mapping.convert`, `ValMap.java:93-116` via addText):
    {key: {raw_value: stored_text}} — a raw value with no entry passes
    through unchanged. Compiled to a map literal + element_at, so the
    lookup stays in codegen (no join, no UDF) — at 100 TB this is a
    per-row O(1) probe against a broadcast-free constant.

    Record acceptance matches `processSingle` (`ValMap.java:49-60`)
    exactly: a record produces a (key, value) row ONLY when it splits
    into exactly two parts under Java semantics — trailing empty
    strings removed first (``"t:"`` → one part), so ``"t:"``,
    ``"bare"``, ``""`` and over-split records like ``"t:a:b"``
    (reference logs *No proper delimited data* and returns) all DROP.
    ``":v"`` is a legitimate empty-key record. The split matches as a
    LITERAL (\\Q…\\E-quoted in the pattern — a split containing the
    two-char sequence ``\\E`` is unsupported), per the round-11 review;
    the reference's `Tools.fromEscapedStringToBytes` delimiters are
    plain characters, where Java regex split is literal-equivalent."""
    # \Q…\E quoting cannot express a delimiter CONTAINING the two-char
    # sequence \E — reject loudly instead of silently mis-splitting
    # (r12 ADVICE: the caveat was documented but unenforced)
    for name, d in (("split", split), ("multi_delimiter", multi_delimiter)):
        if d is not None and "\\E" in d:
            raise ValueError(
                f"valmap {name} may not contain the sequence \\\\E "
                "(unrepresentable under \\\\Q…\\\\E literal quoting)"
            )
    col = F.col(column)
    if multi_delimiter:
        # same literal-split contract as `split` below: \Q…\E-quoted so
        # a metachar delimiter like '|' or '.' splits on the delimiter,
        # not on every character (same \E caveat applies)
        df = df.withColumn(
            column,
            F.explode(F.split(col, F.lit("\\Q" + multi_delimiter + "\\E"), -1)),
        )
        col = F.col(column)
    qpat = "\\Q" + split + "\\E"
    stripped = F.regexp_replace(col, "(?:" + qpat + ")+$", "")
    parts = F.split(stripped, qpat, -1)
    key = F.element_at(parts, 1)
    val = F.element_at(parts, 2)
    if remaps:
        flat = [
            x
            for k, table in remaps.items()
            for raw, stored in table.items()
            for x in (F.lit(f"{k}\x00{raw}"), F.lit(stored))
        ]
        lut = F.create_map(*flat)
        val = F.coalesce(F.element_at(lut, F.concat_ws("\x00", key, val)), val)
    return (
        df.withColumn("_vm_parts", parts)
        .filter(F.size("_vm_parts") == 2)
        .select(
            *[c for c in df.columns if c != column],
            key.alias("key"),
            val.alias("value"),
        )
    )
