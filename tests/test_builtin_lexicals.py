"""Facet zoo for the builtin lexical-space long tail (builtins.py:72-500):
duration/yearMonthDuration/dayTimeDuration, the gregorian g* fragments,
dateTimeStamp, names/QName/language, numerics — each checked through the
real JVM rlike lowering, clean + dirty values interleaved."""

import pytest

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.facets import lower_facet


def check(spark, type_name, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    ok, _ = lower_facet(S.BuiltinLexical(type_name), "v")
    return [r["ok"] for r in df.select(ok.alias("ok")).collect()]


ZOO = {
    # type: (valid..., invalid...)
    "duration": (
        ["P1Y", "P1Y2M3DT4H5M6.7S", "-P1D", "PT5M", "PT0.5S", "P1DT1H"],
        ["P", "PT", "P1S", "P1Y2M3DT", "P-1Y", "P1M2Y", "1Y"],
    ),
    "yearMonthDuration": (
        ["P1Y", "P1Y2M", "P5M", "-P2Y"],
        ["P1D", "PT1H", "P", "P1M2Y"],
    ),
    "dayTimeDuration": (
        ["P1D", "PT1H", "P1DT2H3M4.5S", "-PT0.001S"],
        ["P1Y", "P1M", "PT", "P1DT"],
    ),
    "gYear": (
        ["1999", "0099", "-0001", "12345", "1999Z", "1999+05:00"],
        ["99", "01999", "1999+15:00", "1999-05"],
    ),
    "gYearMonth": (["2001-10", "2001-10Z"], ["2001-13", "2001", "2001-00"]),
    "gMonth": (["--05", "--12+14:00"], ["--13", "05", "--00"]),
    "gMonthDay": (
        ["--02-29", "--01-31", "--12-31Z", "--04-30"],
        ["--02-30", "--04-31", "--00-15", "02-29"],
    ),
    "gDay": (["---01", "---31"], ["---32", "---00", "--01"]),
    "date": (
        ["2001-10-26", "2001-02-29", "-0001-01-01", "2001-10-26+02:00"],
        ["2001-02-30", "2001-13-01", "01-10-26", "2001/10/26"],
    ),
    "time": (
        ["21:32:52", "24:00:00", "21:32:52.12679", "21:32:52Z"],
        ["24:00:01", "25:00:00", "21:32", "21:32:52 PM"],
    ),
    "dateTime": (
        ["2001-10-26T21:32:52", "2001-10-26T21:32:52+02:00"],
        ["2001-10-26", "2001-10-26T25:00:00", "2001-10-26 21:32:52"],
    ),
    "dateTimeStamp": (
        ["2001-10-26T21:32:52Z", "2001-10-26T21:32:52-06:00"],
        ["2001-10-26T21:32:52"],  # timezone REQUIRED (builtins.py:472-478)
    ),
    "language": (
        ["en", "en-US", "x-klingon-a1"],
        ["verylonglang1", "en--US", "en US"],
    ),
    "Name": (["a", "_x1", "ns:tag", "名前"], ["1a", "-a", ""]),
    "NCName": (["a", "_x1", "b0836217462"], ["ns:tag", "1a", ""]),
    "NMTOKEN": (["abc", "123", "a-b.c"], ["a b", ""]),
    "QName": (["tag", "ns:tag", "_a:_b"], ["ns:tag:x", ":tag", "1:a"]),
    "integer": (["-5", "+5", "0"], ["5.0", "", "five"]),
    "nonNegativeInteger": (["0", "+7", "-0"], ["-1"]),
    "positiveInteger": (["1", "+007"], ["0", "-1", "+0"]),
    "decimal": (["3.14", ".5", "5.", "+.5"], ["3,14", "1e5", ""]),
    "double": (
        ["1e10", "-INF", "+INF", "NaN", "1.5E-3"],
        ["nan", "inf", "1e", ""],
    ),
}


@pytest.mark.parametrize("type_name", sorted(ZOO))
def test_lexical_zoo(spark, type_name):
    valid, invalid = ZOO[type_name]
    got = check(spark, type_name, list(valid) + list(invalid) + [None])
    want = [True] * len(valid) + [False] * len(invalid) + [True]  # null passes
    assert got == want, (
        f"{type_name}: {list(zip(list(valid) + list(invalid) + [None], got))}"
    )


def test_unknown_builtin_fails_at_compile(spark):
    with pytest.raises(KeyError):
        lower_facet(S.BuiltinLexical("noSuchType"), "v")


def test_anyuri_imposes_no_check(spark):
    assert check(spark, "anyURI", ["http://x", "not a uri at all"]) == [
        True, True,
    ]


def test_typed_column_through_lexical(spark):
    """BuiltinLexical validates the canonical string rendering of typed
    columns too — an int column against xs:int passes, against
    xs:positiveInteger flags the zero."""
    df = spark.createDataFrame([(0,), (5,)], "v int")
    ok_int, _ = lower_facet(S.BuiltinLexical("int"), "v")
    ok_pos, _ = lower_facet(S.BuiltinLexical("positiveInteger"), "v")
    rows = df.select(ok_int.alias("a"), ok_pos.alias("b")).collect()
    assert [r["a"] for r in rows] == [True, True]
    assert [r["b"] for r in rows] == [False, True]
