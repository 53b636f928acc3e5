"""List/union types, binary lexical facets, xs:error, and the extension hooks
(row assertions + vectorized pandas checks) — SURVEY §2.7/§2.8/§2.10."""

import datetime as dt

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.facets import lower_facet
from sissaschool_xmlschema_spark.plans.runner import validate

TS = dt.datetime(2024, 1, 1)


def check(spark, facet, values, dtype="string"):
    df = spark.createDataFrame([(v,) for v in values], f"v {dtype}")
    ok, _ = lower_facet(facet, "v")
    return [r[0] for r in df.select(ok).collect()]


def test_hex_and_base64(spark):
    assert check(spark, S.HexBinary(), ["deadBEEF", "abc", "xy", None]) == [
        True, False, False, True]
    assert check(
        spark, S.Base64Binary(), ["aGVsbG8=", "YQ==", "a===", "####", None]
    ) == [True, True, False, False, True]


def test_xsd_error_rejects_everything(spark):
    assert check(spark, S.XsdError(), ["anything", "", None]) == [
        False, False, True]


def test_list_of(spark):
    # xs:list of integers within bounds, 2..3 items (simple_types.py:990-1018)
    facet = S.ListOf(
        item_facets=(S.Pattern(("[0-9]+",)),), min_items=2, max_items=3
    )
    assert check(
        spark, facet, ["1 2", "1 2 3", "1", "1 2 3 4", "1 x", None]
    ) == [True, True, False, False, False, True]


def test_union_of(spark):
    # value is either a tool id or a boolean lexical (first-match semantics)
    facet = S.UnionOf(
        alternatives=(
            (S.Pattern(("tool-[0-9]{3}",)),),
            (S.BooleanLexical(),),
        )
    )
    assert check(
        spark, facet, ["tool-001", "true", "0", "tool-1", "maybe", None]
    ) == [True, True, True, False, False, True]


def test_row_assertion_cross_column(spark):
    sp = S.TableSpec(
        name="transcripts",
        row_assertions=(
            S.RowAssertion(
                "tool-only-on-tool-turns",
                "tool IS NULL OR role IN ('tool', 'assistant')",
            ),
        ),
    )
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "x", "tool-001", TS),   # violates
            ("c1", 1, "assistant", "y", "tool-002", TS),
            ("c1", 2, "tool", "z", "tool-002", TS),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    v = validate(df, sp).violations.collect()
    assert [(r["constraint_id"], r["turn_idx"]) for r in v] == [
        ("assert:tool-only-on-tool-turns", 0)
    ]


def test_pandas_check_hook(spark):
    def no_shouting(pdf):
        import pandas as pd

        return pd.Series(
            [
                "text is all uppercase" if t and t.isupper() else None
                for t in pdf["text"]
            ],
            index=pdf.index,
        )

    sp = S.TableSpec(
        name="transcripts",
        pandas_checks=(S.PandasCheck("no-shouting", no_shouting, ("text",)),),
    )
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "HELLO THERE", None, TS),
            ("c1", 1, "assistant", "calm reply", None, TS),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    v = validate(df, sp).violations.collect()
    assert [(r["constraint_id"], r["turn_idx"], r["reason"]) for r in v] == [
        ("pandas:no-shouting", 0, "text is all uppercase")
    ]


def test_salted_occurs_identical_results(spark):
    from sissaschool_xmlschema_spark.operators.sequence import occurs_violations
    from sissaschool_xmlschema_spark.sources.transcripts import (
        synthetic_transcripts,
    )

    df = synthetic_transcripts(spark, n_convs=30, hot_convs=2, hot_turns=500)
    checks = (
        S.Occurs("min-user", where="role = 'user'", min_occurs=10_000),
        S.Occurs("max-system", where="role = 'system'", max_occurs=0),
    )
    plain = occurs_violations(df, checks, "t", "conv_id").collect()
    salted = occurs_violations(df, checks, "t", "conv_id", salt=8).collect()
    key = lambda r: (r["conv_id"], r["constraint_id"], r["offending_value"])
    assert sorted(map(key, plain)) == sorted(map(key, salted))
    assert len(plain) > 0


def test_not_in_set_wildcard_denylist(spark):
    from sissaschool_xmlschema_spark.functions.facets import lower_facet

    df = spark.createDataFrame(
        [("ok",), ("forbidden",), (None,)], "v string"
    )
    ok, _ = lower_facet(S.NotInSet(("forbidden", "banned")), "v")
    assert [r[0] for r in df.select(ok).collect()] == [True, False, True]


def test_conditional_column_xsi_type(spark):
    # tool-call turns must carry a numeric payload in text; other turns free
    sp = S.TableSpec(
        name="transcripts",
        columns=(
            S.ColumnSpec(
                "text", (S.Pattern(("[0-9]+",)),), when="role = 'tool'"
            ),
        ),
    )
    df = spark.createDataFrame(
        [
            ("c1", 0, "tool", "12345", None, TS),
            ("c1", 1, "tool", "words", None, TS),   # violates
            ("c1", 2, "user", "words", None, TS),   # exempt
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    v = validate(df, sp).violations.collect()
    assert [(r["turn_idx"], r["constraint_id"]) for r in v] == [
        (1, "facet:text:Pattern")
    ]
    assert "(where role = 'tool')" in v[0]["reason"]


def test_conditional_column_spec_roundtrip():
    from sissaschool_xmlschema_spark.spec_io import spec_from_dict, spec_to_dict

    sp = S.TableSpec(
        name="t",
        columns=(
            S.ColumnSpec("x", (S.NotInSet(("a",)),), when="role = 'tool'"),
        ),
    )
    assert spec_from_dict(spec_to_dict(sp)) == sp


def test_group_pandas_check_whole_conversation_assert(spark):
    """xs:assert over the whole conversation subtree (assertions.py:36-147):
    every tool call must be balanced by a later tool result."""

    def balanced_tools(pdf):
        calls = (pdf["role"] == "assistant") & pdf["tool"].notna()
        results = pdf["role"] == "tool"
        if calls.sum() != results.sum():
            return [
                f"unbalanced tool calls: {int(calls.sum())} calls, "
                f"{int(results.sum())} results"
            ]
        return []

    sp = S.TableSpec(
        name="transcripts",
        group_checks=(
            S.GroupPandasCheck(
                "balanced-tools", balanced_tools, ("role", "tool")
            ),
        ),
    )
    df = spark.createDataFrame(
        [
            ("c1", 0, "assistant", "x", "tool-001", TS),
            ("c1", 1, "tool", "y", "tool-001", TS),
            ("c2", 0, "assistant", "x", "tool-002", TS),  # no result → violate
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    v = validate(df, sp).violations.collect()
    assert [(r["conv_id"], r["constraint_id"]) for r in v] == [
        ("c2", "group:balanced-tools")
    ]
    assert "1 calls, 0 results" in v[0]["reason"]


def test_group_check_size_guard(spark):
    sp = S.TableSpec(
        name="transcripts",
        group_checks=(
            S.GroupPandasCheck(
                "noop", lambda pdf: [], ("role",), max_group_rows=2
            ),
        ),
    )
    df = spark.createDataFrame(
        [("c1", i, "user", "t", None, TS) for i in range(5)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    v = validate(df, sp).violations.collect()
    assert len(v) == 1
    assert v[0]["constraint_id"] == "group:noop:group-size-guard"
    # an oversized group is sorted before it is truncated: the check sees
    # the first max_group_rows turns, whatever order they arrived in
    seen = S.TableSpec(
        name="transcripts",
        group_checks=(
            S.GroupPandasCheck(
                "seen",
                lambda pdf: [",".join(map(str, pdf["turn_idx"]))],
                ("role",),
                max_group_rows=2,
            ),
        ),
    )
    reversed_df = spark.createDataFrame(
        [("c1", i, "user", "t", None, TS) for i in reversed(range(5))],
        df.schema,
    ).coalesce(1)
    got = {r["constraint_id"]: r["reason"]
           for r in validate(reversed_df, seen).violations.collect()}
    assert got["group:seen"] == "0,1"


def test_max_scope_rows_guard(spark):
    sp = S.TableSpec(
        name="transcripts",
        model=(S.Contiguity(),),
        max_scope_rows=3,
    )
    rows = [("big", i, "user", "t", None, TS) for i in range(5)] + [
        ("ok", 0, "user", "t", None, TS),
        ("ok", 2, "user", "t", None, TS),  # contiguity break in small conv
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    v = validate(df, sp).violations.collect()
    by_cid = {(r["conv_id"], r["constraint_id"]) for r in v}
    # the big conv gets the guard violation, NOT per-row window checks
    assert ("big", "limit:max-scope-rows") in by_cid
    assert ("big", "model:turn-contiguity") not in by_cid
    # the small conv is still window-checked
    assert ("ok", "model:turn-contiguity") in by_cid


def test_max_scope_rows_guard_still_checks_occurs(spark):
    """Regression (ADVICE): occurrence bounds are a groupBy check, not an
    ordered one — a capped group must STILL get its Occurs violations."""
    sp = S.TableSpec(
        name="transcripts",
        model=(
            S.Contiguity(),
            S.Occurs("min-one-user", where="role = 'user'", min_occurs=1),
        ),
        max_scope_rows=3,
    )
    # the big conv has NO user turn → occurs violation despite being capped
    rows = [("big", i, "assistant", "t", None, TS) for i in range(5)] + [
        ("ok", 0, "user", "t", None, TS),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    by_cid = {
        (r["conv_id"], r["constraint_id"])
        for r in validate(df, sp).violations.collect()
    }
    assert ("big", "limit:max-scope-rows") in by_cid
    assert ("big", "occurs:min-one-user") in by_cid  # previously silently lost
    assert ("big", "model:turn-contiguity") not in by_cid  # ordered: skipped


def test_row_checks_beyond_63_chunked(spark):
    cols = tuple(
        S.ColumnSpec("text", (S.MinLength(i + 1),)) for i in range(70)
    )
    sp = S.TableSpec(name="transcripts", columns=cols)
    df = spark.createDataFrame(
        [("c1", 0, "user", "x" * 65, None, TS),
         ("c1", 1, "user", "x" * 80, None, TS)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    v = validate(df, sp).violations
    # row 0 (len 65) violates MinLength 66..70 → 5; row 1 none
    assert v.count() == 5
