"""MathForward: arithmetic over delimited numeric fields.

Parity target: reference `src/io/forward/MathForward.java:223-311` —
split line on delimiter → BigDecimal[] (i0..iN) → ops write results
back into an index (or an rtval / a new column) → rejoin.

Spark-first: the line splits ONCE into an array column; each op's
formula compiles (functions.mathfab) into Column arithmetic against
`element_at(arr, k+1)`. Sequential-assignment semantics (an op sees
the results of earlier ops — MathForward applies ops in order) are
preserved by threading a {index → Column} environment through the op
list at plan-build time; the emitted plan is one flat projection that
whole-stage codegen fuses. Rejoin rebuilds the delimited string with
`transform` + `concat_ws`; typed mode skips rejoin and exposes the
computed fields as real columns (the preferred path — "typed early",
SURVEY §7.0).

Special ops (salinity / svc / truewind* — MathForward.java:451-478)
resolve through the ocean function library.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dcafs_spark.functions.mathfab import compile_math
from dcafs_spark.functions.ocean import salinity, sound_velocity, true_wind_dir, true_wind_speed

_SPECIAL_OPS = {
    "salinity": (salinity, 3),
    "svc": (sound_velocity, 3),
    "truewindspeed": (true_wind_speed, 5),
    "truewinddir": (true_wind_dir, 5),
}


@dataclass
class MathOp:
    """`target = formula`; target 'iK' writes field K, any other name
    creates/updates a named output column."""

    target: str
    formula: str
    # special: op type salinity/svc/truewindspeed/truewinddir with
    # comma-separated args, each an iK ref or a literal number
    special: str | None = None
    scale: int | None = None


@dataclass
class MathForward:
    ops: list[MathOp]
    delimiter: str = ","
    column: str = "value"
    consts: dict[str, float] = field(default_factory=dict)
    # {r:name} refs resolve to these Columns — the stream-static lookup
    # (MathForward.java:619-701 reads rtvals mid-formula; here the
    # caller joins the values table in and maps names to its columns)
    rtvals: dict[str, Column] = field(default_factory=dict)
    # 'nmea' re-appends a '*HH' XOR checksum to the rewritten line
    # (MathForward.java:279-286 suffix attribute)
    suffix: str | None = None

    def _arg(self, spec: str, env: dict[int, Column]) -> Column:
        spec = spec.strip()
        if spec.startswith("i") and spec[1:].isdigit():
            return env[int(spec[1:])] if int(spec[1:]) in env else self._field(int(spec[1:]))
        return F.lit(float(spec))

    def _field(self, k: int) -> Column:
        arr = F.split(F.col(self.column), F.lit(self.delimiter), -1)
        return F.try_element_at(arr, F.lit(k + 1)).try_cast("double")

    # the Columns below are built once per operator: a streaming path
    # applies one operator to every micro-batch
    @cached_property
    def _env(self) -> tuple[dict[int, Column], dict[str, Column]]:
        """Thread ops sequentially: later ops see earlier results."""
        env: dict[int, Column] = {}
        named: dict[str, Column] = {}

        def fields(k: int) -> Column:
            return env.get(k, self._field(k))

        for op in self.ops:
            if op.special is not None:
                fn, nargs = _SPECIAL_OPS[op.special]
                args = [self._arg(a, env) for a in op.formula.split(",")]
                if len(args) != nargs:
                    raise ValueError(f"{op.special} needs {nargs} args, got {len(args)}")
                result = fn(*args)
            else:
                result = compile_math(op.formula).column(
                    fields=fields,
                    rtvals=(lambda kind, name: self.rtvals[name]) if self.rtvals else None,
                    consts=self.consts,
                    cols=named,
                )
            if op.scale is not None:
                result = F.round(result, op.scale)  # HALF_UP, matches BigDecimal setScale
            if op.target.startswith("i") and op.target[1:].isdigit():
                env[int(op.target[1:])] = result
            else:
                named[op.target] = result
        return env, named

    @cached_property
    def _typed(self) -> list[Column]:
        env, named = self._env
        return [v.alias(f"i{k}") for k, v in sorted(env.items())] + [
            v.alias(name) for name, v in named.items()
        ]

    def apply_typed(self, df: DataFrame, keep: list[str] | None = None) -> DataFrame:
        """Expose every written field/named output as a typed column."""
        return df.select(*(keep or ["*"]), *self._typed)

    @cached_property
    def _line(self) -> Column:
        """The rewritten delimited line."""
        env, _named = self._env
        arr = F.split(F.col(self.column), F.lit(self.delimiter), -1)

        def rewrite(x: Column, i: Column) -> Column:
            out = x
            for k, v in env.items():
                # trim float-noise: render integral values without '.0'
                s = F.when(v == F.floor(v), v.cast("decimal(38,0)").cast("string")).otherwise(
                    v.cast("string")
                )
                # null result (unparseable/missing input field) keeps the
                # original text: the reference bails out of ops on
                # non-numeric fields and forwards the line unchanged
                # (MathForward.java:234-250). Writing null here would be
                # worse than a wrong value — concat_ws DROPS nulls,
                # silently shifting every later field left by one.
                out = F.when((i == k) & v.isNotNull(), s).otherwise(out)
            return out

        new_line = F.concat_ws(self.delimiter, F.transform(arr, rewrite))
        if self.suffix == "nmea":
            from dcafs_spark.functions.checksum import nmea_checksum

            # checksum covers the REWRITTEN body (the reference computes
            # it on the joined result, MathForward.java:279-286); any
            # stale '*HH' tail was part of the split fields and is gone
            # only if the caller stripped it — match the reference, which
            # appends regardless
            new_line = F.concat(new_line, F.lit("*"), nmea_checksum(new_line))
        return new_line

    def apply(self, df: DataFrame) -> DataFrame:
        """dcafs-fidelity mode: rewrite the delimited line in place.

        Named outputs and the new line are all computed from the input
        line: each is already the result of the op sequence, so reading
        the rewritten line would apply an earlier op twice."""
        return df.withColumns({**self._env[1], self.column: self._line})
