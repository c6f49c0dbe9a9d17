"""Forward operators: filter fork, math (typed + rejoin), editor steps,
generic projection + error channel, valmap."""

from pyspark.sql import functions as F

from dcafs_spark.operators.editor_forward import Edit, EditorForward
from dcafs_spark.operators.filter_forward import FilterForward
from dcafs_spark.operators.math_forward import MathForward, MathOp
from dcafs_spark.operators.projection import Field, Generic, valmap


def test_filter_start_and_items(lines_df):
    ff = FilterForward(rules=[("start", "$CTD"), ("items", "6")])
    ok, rejected = ff.fork(lines_df)
    assert {r["event_id"] for r in ok.collect()} == {1, 2, 3, 4}
    assert {r["event_id"] for r in rejected.collect()} == {5, 6, 7}


def test_filter_negate(lines_df):
    ff = FilterForward(rules=[("start", "$CTD")], negate=True)
    ids = {r["event_id"] for r in ff.apply(lines_df).collect()}
    assert ids == {6, 7}


def test_filter_math_rule(lines_df):
    # temp (i2) above 13
    ff = FilterForward(rules=[("start", "$CTD"), ("math", "i2 > 13")])
    ids = {r["event_id"] for r in ff.apply(lines_df).collect()}
    assert ids == {2}


def test_filter_ignores_bad_numbers(lines_df):
    # 'junk'/empty → NULL comparison → row excluded, no exception
    ff = FilterForward(rules=[("math", "i2 > 0")])
    ids = {r["event_id"] for r in ff.apply(lines_df).collect()}
    assert ids == {1, 2, 5, 6}


def test_filter_rule_variants(spark):
    df = spark.createDataFrame(
        [("abcdef",), ("xbcdef",), ("abc",), ("zzabc",)], "value string"
    )
    assert FilterForward(rules=[("end", "def")]).apply(df).count() == 2
    assert FilterForward(rules=[("contain", "bcd")]).apply(df).count() == 2
    assert FilterForward(rules=[("c_start", "2,b")]).apply(df).count() == 3
    assert FilterForward(rules=[("c_end", "1,f")]).apply(df).count() == 2
    assert FilterForward(rules=[("minlength", "6")]).apply(df).count() == 2
    assert FilterForward(rules=[("maxlength", "3")]).apply(df).count() == 1
    assert FilterForward(rules=[("regex", "[a-z]*abc")]).apply(df).count() == 2  # full match


def test_math_forward_typed_sequential(spark):
    df = spark.createDataFrame([("10,2,5",)], "value string")
    mf = MathForward(ops=[MathOp("i0", "i0*2"), MathOp("i1", "i0+i1")])  # i1 sees updated i0
    row = mf.apply_typed(df).first()
    assert row["i0"] == 20.0
    assert row["i1"] == 22.0


def test_math_forward_rejoin(spark):
    df = spark.createDataFrame([("10,2,5",)], "value string")
    mf = MathForward(ops=[MathOp("i1", "i1*3")])
    assert mf.apply(df).first()["value"] == "10,6,5"


def test_math_forward_named_output_reads_rewritten_field_once(spark):
    """A named op reading a field an earlier op rewrote sees that op
    applied once, in line-rewrite mode as in typed mode."""
    df = spark.createDataFrame([("a,10",)], "value string")
    mf = MathForward(ops=[MathOp("i1", "i1*2"), MathOp("x", "i1+0")])
    row = mf.apply(df).first()
    assert (row["value"], row["x"]) == ("a,20", 20.0)
    assert mf.apply_typed(df).first()["x"] == 20.0


def test_math_forward_nmea_suffix(spark):
    """suffix="nmea" re-appends a *HH checksum over the REWRITTEN body
    (MathForward.java:279-286)."""
    df = spark.createDataFrame([("$GPGGA,10,2",)], "value string")
    mf = MathForward(ops=[MathOp("i1", "i1*2")], suffix="nmea")
    line = mf.apply(df).first()["value"]
    assert line.startswith("$GPGGA,20,2*")
    body, claimed = line[1:].split("*")
    want = 0
    for ch in body.encode():
        want ^= ch
    assert claimed == format(want, "02X")


def test_math_forward_scale(spark):
    df = spark.createDataFrame([("1,3,0",)], "value string")
    mf = MathForward(ops=[MathOp("i2", "i0/i1", scale=4)])
    assert mf.apply_typed(df).first()["i2"] == 0.3333


def test_editor_chain(spark):
    df = spark.createDataFrame([("hello world",)], "value string")
    ed = EditorForward(
        edits=[
            Edit("replace", {"find": "world", "replacement": "dcafs"}),
            Edit("prepend", {"text": ">> "}),
            Edit("append", {"text": " <<"}),
            Edit("trim", {}),
        ]
    )
    assert ed.apply(df).first()["value"] == ">> hello dcafs <<"


def test_editor_resplit(spark):
    # reference help example style: reorder + filler
    df = spark.createDataFrame([("a,b,c,d",)], "value string")
    ed = EditorForward(edits=[Edit("resplit", {"template": "i2-i0", "delimiter": ","})])
    assert ed.apply(df).first()["value"] == "c-a"
    ed = EditorForward(
        edits=[Edit("resplit", {"template": "i1|i0", "delimiter": ",", "leftover": "append"})]
    )
    assert ed.apply(df).first()["value"] == "b|a,c,d"


def test_editor_charsplit(spark):
    df = spark.createDataFrame([("162512",)], "value string")
    ed = EditorForward(edits=[Edit("charsplit", {"positions": [2, 4], "delimiter": ":"})])
    assert ed.apply(df).first()["value"] == "16:25:12"


def test_editor_cut_drops_short_rows(spark):
    df = spark.createDataFrame([("abcdef",), ("ab",)], "value string")
    ed = EditorForward(edits=[Edit("cutstart", {"count": 3})])
    rows = ed.apply(df).collect()
    assert [r["value"] for r in rows] == ["def"]


def test_editor_listreplace_toascii(spark):
    df = spark.createDataFrame([("1",)], "value string")
    ed = EditorForward(edits=[Edit("listreplace", {"list": ["zero", "one", "two"], "first": 0})])
    assert ed.apply(df).first()["value"] == "one"
    df = spark.createDataFrame([("72,105",)], "value string")
    ed = EditorForward(edits=[Edit("toascii", {"delimiter": ","})])
    assert ed.apply(df).first()["value"] == "Hi"


def test_editor_rexsplit(spark):
    df = spark.createDataFrame([("ab12cd34",)], "value string")
    ed = EditorForward(edits=[Edit("rexsplit", {"regex": r"\d+", "delimiter": ";"})])
    assert ed.apply(df).first()["value"] == "12;34"


def test_generic_projection_defaults_and_errors(lines_df):
    g = Generic(
        fields=[
            Field("tag", 0, "text"),
            Field("temp", 2, "real", default=-999.0),
            Field("cond", 3, "real"),
            Field("status", 5, "integer"),
        ],
        startswith="$CTD",
    )
    rows = {r["event_id"]: r for r in g.apply(lines_df, keep=["event_id"]).collect()}
    assert rows[1]["temp"] == 12.941 and rows[1]["status"] == 8
    assert rows[3]["temp"] == -999.0  # empty field → default
    assert rows[4]["temp"] == -999.0  # junk → default
    assert rows[5]["cond"] is None  # too-few fields → null
    # dead-letter channel: unparseable values in a field WITHOUT a
    # default are errors ('' on row 3, 'junk' on row 4)
    g2 = Generic(fields=[Field("temp", 2, "real")], startswith="$CTD")
    errs = {r["event_id"] for r in g2.errors(lines_df).collect()}
    assert errs == {3, 4}


def test_generic_nrs_mode(spark):
    df = spark.createDataFrame([('{"k": 42, "v": -1.5}',)], "value string")
    g = Generic(fields=[Field("k", 0, "integer"), Field("v", 1, "real")], nrs_mode=True)
    row = g.apply(df).first()
    assert row["k"] == 42 and row["v"] == -1.5


def test_valmap_multi(spark):
    df = spark.createDataFrame([("bat:11.8;rssi:-67;fw:1.2.3",)], "value string")
    rows = valmap(df, split=":", multi_delimiter=";").collect()
    assert [(r["key"], r["value"]) for r in rows] == [
        ("bat", "11.8"),
        ("rssi", "-67"),
        ("fw", "1.2.3"),
    ]


def test_valmap_multi_delimiter_metachar_is_literal(spark):
    """multi_delimiter follows the same literal-split contract as
    `split`: a regex metachar like '|' splits on the delimiter, not on
    every character (round-11 review)."""
    df = spark.createDataFrame([("bat:11.8|rssi:-67",)], "value string")
    rows = valmap(df, split=":", multi_delimiter="|").collect()
    assert [(r["key"], r["value"]) for r in rows] == [
        ("bat", "11.8"),
        ("rssi", "-67"),
    ]


def test_valmap_rejects_backslash_e_delimiter(spark):
    """A delimiter containing the two-char sequence \\E is
    unrepresentable under \\Q…\\E quoting — valmap refuses it loudly
    instead of silently mis-splitting (r12 ADVICE)."""
    import pytest as _pytest

    df = spark.createDataFrame([("a:1",)], "value string")
    with _pytest.raises(ValueError, match="may not contain"):
        valmap(df, split="\\E")
    with _pytest.raises(ValueError, match="may not contain"):
        valmap(df, split=":", multi_delimiter="x\\Ey")


def test_resplit_rtval_refs(spark):
    """Resplit fillers resolve {r:name} through the rtvals mapping;
    unknown refs become the error default (EditorForward.java:499-505)."""
    from pyspark.sql import functions as F

    from dcafs_spark.operators.editor_forward import Edit, EditorForward

    df = spark.createDataFrame([("16:25:12",)], "value string")
    ed = EditorForward(
        edits=[Edit("resplit", {"template": "i0[{r:station}]-i2{r:missing}", "delimiter": ":"})],
        rtvals={"station": F.lit("CTD01")},
    )
    out = ed.apply(df).first()["value"]
    assert out == "16[CTD01]-12NaN"


class TestEditorRound11Review:
    def test_toascii_bad_code_fails_row(self, spark):
        """A non-numeric char code drops the record (reference parseInt
        throws -> EditorForward.java:113-119), never silently skips."""
        from dcafs_spark.operators.editor_forward import Edit, EditorForward

        df = spark.createDataFrame([("72,105",), ("72,junk",)], "value string")
        ed = EditorForward(edits=[Edit("toascii", {})])
        out = [r["value"] for r in ed.apply(df).collect()]
        assert out == ["Hi"]

    def test_resplit_leftover_uses_edit_delimiter(self, spark):
        """leftover=append rejoins with the edit's OWN delimiter when it
        overrides the path delimiter."""
        from dcafs_spark.operators.editor_forward import Edit, EditorForward

        df = spark.createDataFrame([("a;b;c;d",)], "value string")
        ed = EditorForward(
            edits=[Edit("resplit", {"template": "i1_i0", "delimiter": ";", "leftover": "append"})],
            delimiter=",",  # path delimiter differs
        )
        out = [r["value"] for r in ed.apply(df).collect()]
        assert out == ["b_a;c;d"]

    def test_regex_rule_full_match_alternation(self, spark):
        """String.matches is whole-string: 'abc|xy' must not pass
        'zabc' (prefix-anchored alternation bug) nor 'xyz'."""
        from dcafs_spark.operators.filter_forward import FilterForward

        df = spark.createDataFrame([("abc",), ("xy",), ("zabc",), ("xyz",)], "value string")
        got = [r["value"] for r in FilterForward(rules=[("regex", "abc|xy")]).apply(df).collect()]
        assert sorted(got) == ["abc", "xy"]
