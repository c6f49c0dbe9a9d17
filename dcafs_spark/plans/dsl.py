"""Pipeline DSL: declarative path specs compiled to DataFrame plans.

Parity target: the reference's *path* concept — an ordered chain of
forwards with a shared delimiter and failure routing
(`src/io/forward/PathForward.java:115-263`), declared in XML. Here a
path is a plain dict (JSON/YAML-friendly), and "compilation" builds a
lazy DataFrame transformation chain — Catalyst then fuses every step
into as few physical operators as the expressions allow, so a
10-step path typically runs as ONE whole-stage-codegen projection
over the scan. Nothing in the compiled plan is per-row Python.

Spec shape::

    {
      "id": "sbe38",
      "delimiter": ",",
      "steps": [
        {"type": "filter", "rules": [["start", "$"]], "negate": false,
         "reject": "bad_lines"},            # optional failure route
        {"type": "math", "ops": [{"target": "i1", "formula": "i1*0.001"}]},
        {"type": "editor", "edits": [{"kind": "trim", "args": {}}]},
        {"type": "generic", "fields": [
            {"name": "temp", "index": 1, "dtype": "real"}],
         "keep": ["origin", "ts"]},
      ]
    }

`compile_path` returns (main DataFrame, {reject_tag: DataFrame}).
It is two halves: `build_path` makes each step's operator once (an
operator keeps the Columns it builds, none of which depends on the
input frame) and `bind_steps` applies them to a frame, one or two
DataFrame calls per step. `compile_path` does both; the streaming
runner builds once per query and binds each micro-batch. The same
compiler serves batch and streaming inputs — a streaming df flows
through identically (all steps are narrow transformations).

A filter step's failure route mirrors the reference's *reverse
targets* (`FilterForward.java:69-81`): the complementary predicate
over the same parent plan. Catalyst reuses the scan for both sides.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

from dcafs_spark.operators.editor_forward import Edit, EditorForward
from dcafs_spark.operators.filter_forward import FilterForward
from dcafs_spark.operators.math_forward import MathForward, MathOp
from dcafs_spark.operators.projection import Field, Generic, valmap

PathSpec = dict[str, Any]


def _build_filter(step: dict, delimiter: str, column: str) -> FilterForward:
    return FilterForward(
        rules=[tuple(r) for r in step["rules"]],
        delimiter=step.get("delimiter", delimiter),
        negate=bool(step.get("negate", False)),
        column=column,
    )


def _build_math(step: dict, delimiter: str, column: str) -> MathForward:
    ops = [
        MathOp(
            target=o["target"],
            formula=o["formula"],
            special=o.get("special"),
            scale=o.get("scale"),
        )
        for o in step["ops"]
    ]
    return MathForward(
        ops=ops,
        delimiter=step.get("delimiter", delimiter),
        column=column,
        consts=step.get("consts", {}),
        suffix=step.get("suffix"),
    )


def _build_editor(step: dict, delimiter: str, column: str) -> EditorForward:
    edits = [Edit(e["kind"], e.get("args", {})) for e in step["edits"]]
    return EditorForward(edits=edits, delimiter=step.get("delimiter", delimiter), column=column)


def _build_generic(step: dict, delimiter: str) -> Generic:
    fields = [
        Field(
            name=f["name"],
            index=f.get("index", i),
            dtype=f.get("dtype", "real"),
            default=f.get("default"),
        )
        for i, f in enumerate(step["fields"])
    ]
    return Generic(
        fields=fields,
        delimiter=step.get("delimiter", delimiter),
        startswith=step.get("startswith", ""),
        nrs_mode=bool(step.get("nrs", False)),
    )


# One built step: applies its operator to a frame, adding any reject
# route it forks off to the dict it is given.
Step = Callable[[DataFrame, dict[str, DataFrame]], DataFrame]


def _build_step(step: dict, delimiter: str, column: str) -> Step:
    kind = step["type"].lower()
    if kind == "filter":
        ff = _build_filter(step, delimiter, column)
        if "reject" not in step:
            return lambda df, _rejects: ff.apply(df)
        tag = step["reject"]

        def fork(df: DataFrame, rejects: dict[str, DataFrame]) -> DataFrame:
            df, rejects[tag] = ff.fork(df)
            return df

        return fork
    if kind == "math":
        mf = _build_math(step, delimiter, column)
        if step.get("typed", False):
            keep = step.get("keep")
            return lambda df, _rejects: mf.apply_typed(df, keep=keep)
        return lambda df, _rejects: mf.apply(df)
    if kind == "editor":
        ed = _build_editor(step, delimiter, column)
        return lambda df, _rejects: ed.apply(df)
    if kind == "generic":
        g = _build_generic(step, delimiter)
        keep = step.get("keep")
        return lambda df, _rejects: g.apply(df, keep=keep)
    if kind == "valmap":
        split, multi = step.get("split", ":"), step.get("multi")
        return lambda df, _rejects: valmap(df, split=split, multi_delimiter=multi, column=column)
    if kind == "custom":
        # extension point — the Spark analog of the reference's
        # custom label handlers (LabelWorker doLABEL(Datagram),
        # manual 'Adding a label' / SURVEY §2.10): a user callable
        # DataFrame -> DataFrame spliced into the compiled chain.
        # Distribution discipline is the author's contract, same as
        # any DataFrame transform; no driver-side row loop exists
        # here for one to accidentally fall into.
        fn = step.get("fn")
        if not callable(fn):
            raise ValueError("custom step needs a callable 'fn'")
        return lambda df, _rejects: fn(df)
    raise ValueError(f"unknown step type: {kind}")


def build_steps(steps: list[dict], delimiter: str = ",", column: str = "value") -> list[Step]:
    """Make each step's operator once. An operator builds its Columns on
    first use and keeps them; none of them depends on the frame, so a
    streaming path builds here once per query and binds each batch."""
    return [_build_step(step, delimiter, column) for step in steps]


def build_path(spec: PathSpec) -> list[Step]:
    return build_steps(
        spec.get("steps", []),
        delimiter=spec.get("delimiter", ","),
        column=spec.get("column", "value"),
    )


def bind_steps(df: DataFrame, steps: list[Step]) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Apply built steps in order; returns (main, rejects-by-tag)."""
    rejects: dict[str, DataFrame] = {}
    for step in steps:
        df = step(df, rejects)
    return df, rejects


def compile_steps(
    df: DataFrame, steps: list[dict], delimiter: str = ",", column: str = "value"
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Apply each step in order; returns (main, rejects-by-tag)."""
    return bind_steps(df, build_steps(steps, delimiter, column))


def compile_path(df: DataFrame, spec: PathSpec) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Compile a full path spec against an input DataFrame."""
    return bind_steps(df, build_path(spec))
