"""Facet battery — one column per facet family, clean + dirty values
interleaved (mirrors the reference's tests/validators/test_facets.py and the
F4 fixture in FIXTURES.md)."""

import pytest
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.facets import lower_facet
from sissaschool_xmlschema_spark.functions.xsd_regex import (
    XsdRegexError,
    translate_and_anchor,
    translate_pattern,
)


def check(spark, facet, values, dtype="string"):
    """Apply one lowered facet to a column of values; return pass/fail list."""
    df = spark.createDataFrame([(v,) for v in values], f"v {dtype}")
    ok, _reason = lower_facet(facet, "v")
    return [r["ok"] for r in df.select(ok.alias("ok")).collect()]


def test_length_family(spark):
    assert check(spark, S.Length(3), ["abc", "ab", None]) == [True, False, True]
    assert check(spark, S.MinLength(2), ["a", "ab", None]) == [False, True, True]
    assert check(spark, S.MaxLength(2), ["ab", "abc", None]) == [True, False, True]


def test_bounds_family(spark):
    assert check(spark, S.MinInclusive(5), [5, 4, None], "int") == [True, False, True]
    assert check(spark, S.MinExclusive(5), [6, 5, None], "int") == [True, False, True]
    assert check(spark, S.MaxInclusive(5), [5, 6, None], "int") == [True, False, True]
    assert check(spark, S.MaxExclusive(5), [4, 5, None], "int") == [True, False, True]


def test_enumeration_with_nan(spark):
    import math

    vals = [1.0, 2.0, float("nan")]
    got = check(spark, S.Enumeration((1.0, float("nan"))), vals, "double")
    assert got == [True, False, True]  # NaN admitted when enum contains NaN


def test_digits_family(spark):
    # totalDigits counts significant digits of the decimal form
    # (utils/decoding.py:32-52)
    assert check(
        spark, S.TotalDigits(4), ["123.4", "12345", "-001234", None]
    ) == [True, False, True, True]
    assert check(
        spark, S.FractionDigits(2), ["1.23", "1.234", "1.2300", "5", None]
    ) == [True, False, True, True, True]


def test_whitespace_family(spark):
    assert check(spark, S.WhiteSpace("preserve"), ["a\tb"]) == [True]
    assert check(spark, S.WhiteSpace("replace"), ["a b", "a\tb"]) == [True, False]
    assert check(
        spark, S.WhiteSpace("collapse"), ["a b", "a  b", " a", "a "]
    ) == [True, False, False, False]


def test_explicit_timezone(spark):
    vals = ["2024-01-01T00:00:00Z", "2024-01-01T00:00:00+02:00",
            "2024-01-01T00:00:00"]
    assert check(spark, S.ExplicitTimezone("required"), vals) == [
        True, True, False]
    assert check(spark, S.ExplicitTimezone("prohibited"), vals) == [
        False, False, True]


def test_boolean_lexical(spark):
    assert check(
        spark, S.BooleanLexical(), ["true", "1", "False", "yes", None]
    ) == [True, True, False, False, True]


def test_fixed_and_assertion(spark):
    assert check(spark, S.FixedValue("x"), ["x", "y", None]) == [True, False, True]
    assert check(
        spark, S.Assertion("$value % 2 = 0"), [2, 3, None], "int"
    ) == [True, False, True]


def test_nillable_triple_condition(spark):
    """xsi:nil (elements.py:711-728): nil must be boolean; nil=true requires
    empty content; nil=true conflicts with a fixed value."""
    df = spark.createDataFrame(
        [
            ("true", None),    # nilled and empty         -> ok
            ("1", None),       # boolean lexical '1'      -> ok
            ("true", "x"),     # nilled but content       -> FAIL
            ("yes", None),     # non-boolean nil          -> FAIL
            ("false", "x"),    # not nilled, content fine -> ok
            (None, "x"),       # nil absent               -> ok
            (None, None),      # nil absent, value absent -> ok
        ],
        "nil string, v string",
    )
    ok, _ = lower_facet(S.Nillable("nil"), "v")
    got = [r[0] for r in df.select(ok.alias("ok")).collect()]
    assert got == [True, True, False, False, True, True, True]
    # with a fixed-value constraint, nil=true is an error outright
    okf, _ = lower_facet(S.Nillable("nil", fixed="x"), "v")
    gotf = [r[0] for r in df.select(okf.alias("ok")).collect()]
    assert gotf == [False, False, False, False, True, True, True]


def test_nillable_spec_roundtrip():
    from sissaschool_xmlschema_spark.spec_io import spec_from_dict, spec_to_dict

    sp = S.TableSpec(
        name="t", columns=(S.ColumnSpec("v", (S.Nillable("nil", fixed="x"),)),)
    )
    assert spec_from_dict(spec_to_dict(sp)) == sp


def test_assertion_value_token_is_word_bounded(spark):
    """Regression: only the standalone `$value`/`value` token is rewritten —
    identifiers containing 'value' and the string literal 'value' survive
    (reference binds $value as a real XPath variable, facets.py:826-884)."""
    df = spark.createDataFrame(
        [(2, 10, "value"), (3, 10, "other")],
        "v int, value_x int, tag string",
    )
    # `values`-like identifier: value_x must NOT be rewritten to v
    ok, _ = lower_facet(S.Assertion("$value * 5 = value_x"), "v")
    assert [r[0] for r in df.select(ok.alias("ok")).collect()] == [True, False]
    # a quoted 'value' literal must survive intact
    ok2, _ = lower_facet(S.Assertion("value >= 0 AND tag = 'value'"), "v")
    assert [r[0] for r in df.select(ok2.alias("ok")).collect()] == [True, False]


def test_listof_regex_separator_and_union_item_context(spark):
    """ADVICE regressions: a '.'-separator splits literally, and a UnionOf
    nested as a ListOf item facet validates each ITEM, not the whole column."""
    sep = check(
        spark,
        S.ListOf(item_facets=(S.MaxLength(1),), separator="."),
        ["a.b.c", "ab.c"],
    )
    assert sep == [True, False]
    union_items = check(
        spark,
        S.ListOf(
            item_facets=(
                S.UnionOf(alternatives=((S.Length(1),), (S.Length(3),))),
            ),
        ),
        ["a bcd", "a bc"],
    )
    assert union_items == [True, False]


def test_required_prohibited_conditional(spark):
    df = spark.createDataFrame(
        [("tool", "t1"), ("tool", None), ("user", None)],
        "role string, tool string",
    )
    ok, _ = lower_facet(S.Required(when="role = 'tool'"), "tool")
    assert [r[0] for r in df.select(ok).collect()] == [True, False, True]
    okp, _ = lower_facet(S.Prohibited(when="role = 'user'"), "tool")
    df2 = spark.createDataFrame(
        [("user", "t1"), ("user", None), ("tool", "t1")],
        "role string, tool string",
    )
    assert [r[0] for r in df2.select(okp).collect()] == [False, True, True]


# --- XSD regex dialect -----------------------------------------------------


def test_pattern_implicit_anchoring(spark):
    # XSD patterns are full-match: 'abc' must NOT match inside 'xabcx'
    got = check(spark, S.Pattern(("abc",)), ["abc", "xabcx"])
    assert got == [True, False]


def test_pattern_match_any_of_many(spark):
    got = check(spark, S.Pattern(("cat", "dog")), ["cat", "dog", "cow"])
    assert got == [True, True, False]


def test_xsd_name_classes(spark):
    # \i name-start, \c name chars (facets.py:747-753 translate_pattern)
    got = check(spark, S.Pattern((r"\i\c*",)), ["a1-b.c", "1abc", "_x"])
    assert got == [True, False, True]


def test_class_subtraction():
    java = translate_pattern("[a-z-[aeiou]]")
    assert java == "[[a-z]&&[^aeiou]]"


def test_nested_class_subtraction(spark):
    """[a-z-[aeiou-[e]]] = a-z minus (aeiou minus e): admits 'e' and
    consonants, rejects the other vowels — XSD charClassSub recursion
    (elementpath.translate_pattern parity)."""
    got = check(spark, S.Pattern(("[a-z-[aeiou-[e]]]",)), ["e", "b", "a", "o"])
    assert got == [True, True, False, False]


def test_negated_class_with_subtraction(spark):
    """[^a-z-[0-9]] = (anything not a-z) minus digits."""
    got = check(spark, S.Pattern(("[^a-z-[0-9]]",)), ["Q", "!", "7", "k"])
    assert got == [True, True, False, False]


def test_unsupported_constructs_fail_at_compile_time():
    with pytest.raises(XsdRegexError):
        translate_pattern("a\\q")
    with pytest.raises(XsdRegexError):
        translate_pattern("tail\\")


def test_anchored_wrapper():
    assert translate_and_anchor("ab|cd") == "\\A(?:ab|cd)\\z"


def test_compile_time_failures(spark):
    """Bad specs fail on the driver at compile time, never on executors
    (the reference's meta-schema check idea, xsd_globals.py:572)."""
    from sissaschool_xmlschema_spark.plans.compiler import compile_plan

    with pytest.raises(XsdRegexError):
        compile_plan(
            S.TableSpec(
                name="t",
                columns=(S.ColumnSpec("x", (S.Pattern(("a\\q",)),)),),
            )
        )
    with pytest.raises(ValueError):
        S.TableSpec(name="t", mode="bogus")
    with pytest.raises(ValueError):
        from sissaschool_xmlschema_spark.functions.facets import lower_facet

        lower_facet(S.WhiteSpace("weird"), "x")


def test_xsd_regex_dialect_exactness(spark):
    """XSD-vs-Java dialect differences the translator must bridge
    (XML Schema Part 2 §F): literal ^/$, Is->In block names, XSD \\s/\\w."""
    from pyspark.sql import functions as F

    from sissaschool_xmlschema_spark.functions.xsd_regex import (
        translate_and_anchor as T,
    )

    cases = [
        (r"^$|.{3}", "^$", True), (r"^$|.{3}", "", False),
        (r"\p{IsBasicLatin}*", "façade", False),
        (r"[\p{IsBasicLatin}\p{IsLatin-1Supplement}]*", "façade", True),
        (r"[\W]{0,5}", ".", True), (r"[\W]{0,5}", "a", False),
        (r"\s", "\x0b", False),  # XSD \s is exactly [ \t\n\r]
        (r"\d+", "٤٢", True),    # XSD \d is \p{Nd}, not ASCII
    ]
    df = spark.createDataFrame(
        [(p, v, e) for p, v, e in cases], "p string, v string, e boolean"
    )
    rows = [
        (c[0], c[1], c[2],
         spark.createDataFrame([(c[1],)], "v string")
         .select(F.col("v").rlike(T(c[0])).alias("m")).first()["m"])
        for c in cases
    ]
    bad = [(p, v, e, g) for p, v, e, g in rows if e != g]
    assert not bad, bad


def test_every_builtin_integer_type_validates_end_to_end(spark):
    """Every builtin integer type with a value-space range goes through
    compile_xsd → compile_plan → validate without a driver-side raise
    (xs:unsignedLong's 2**64-1 bound once crashed the plan build), passes
    its own bounds and flags exactly one step past each finite bound."""
    from sissaschool_xmlschema_spark.functions.lexical import XSD_LEXICAL
    from sissaschool_xmlschema_spark.plans.compiler import compile_plan
    from sissaschool_xmlschema_spark.plans.runner import validate
    from sissaschool_xmlschema_spark.xsd_compile import (
        builtin_facets,
        compile_xsd,
    )

    ranges = {
        t: next(f for f in builtin_facets(t) if isinstance(f, S.IntRange))
        for t in XSD_LEXICAL
        if any(isinstance(f, S.IntRange) for f in builtin_facets(t))
    }
    assert {"unsignedLong", "long", "nonNegativeInteger"} <= set(ranges)
    elems = "".join(
        f'<xs:element name="{t}" type="xs:{t}" minOccurs="0"/>'
        for t in ranges
    )
    src = (
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        '<xs:element name="doc"><xs:complexType><xs:sequence>'
        '<xs:element name="row" maxOccurs="unbounded"><xs:complexType>'
        f"<xs:sequence>{elems}</xs:sequence>"
        "</xs:complexType></xs:element>"
        "</xs:sequence></xs:complexType></xs:element></xs:schema>"
    )
    plan = compile_plan(compile_xsd(src).spec("row"))
    cols = list(ranges)
    rows, expect_out = [], {}
    for t, r in ranges.items():
        inside = [b for b in (r.lo, r.hi) if b is not None]
        outside = ([r.lo - 1] if r.lo is not None else []) + (
            [r.hi + 1] if r.hi is not None else []
        )
        expect_out[t] = len(outside)
        for v, tag in [(v, "in") for v in inside] + [
            (v, "out") for v in outside
        ]:
            rows.append(
                (tag, len(rows), *[str(v) if c == t else None for c in cols])
            )
    df = spark.createDataFrame(
        rows,
        "doc_id string, row_idx long, "
        + ", ".join(f"{c} string" for c in cols),
    )
    v = validate(df, plan).violations.collect()
    assert not [r for r in v if r["conv_id"] == "in"]
    got = {}
    for r in v:
        if r["constraint_id"].endswith(":IntRange"):
            col = r["constraint_id"].split(":")[1]
            got[col] = got.get(col, 0) + 1
    assert got == expect_out
