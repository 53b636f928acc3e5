"""XSD 1.1 conditional type assignment (xs:alternative) — spec.TypeAlternative
lowered to first-match-wins predicate-gated facets (reference
XsdAlternative elements.py:1450-1476, selection get_alternative_type
elements.py:1338-1361)."""

import datetime as dt

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.plans.runner import validate

TS = dt.datetime(2024, 1, 1)


def mk(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )


def alt_spec():
    return S.TableSpec(
        name="transcripts",
        columns=(
            S.ColumnSpec(
                "tool",
                # declared default type: no tool allowed
                facets=(S.Prohibited(),),
                alternatives=(
                    S.TypeAlternative(
                        test="role = 'tool'", facets=(S.Required(),), name="call"
                    ),
                    S.TypeAlternative(
                        test="role IN ('tool', 'assistant')",
                        facets=(S.Pattern(("tool-[0-9]{3}",)),),
                        name="ref",
                    ),
                ),
            ),
        ),
    )


def cids(res):
    return sorted(
        (r.turn_idx, r.constraint_id) for r in res.violations.collect()
    )


def test_first_match_wins_and_default(spark):
    df = mk(
        spark,
        [
            # arm 'call': role tool, tool missing -> Required@call fires
            ("c1", 0, "tool", "t", None, TS),
            # arm 'call' matched FIRST (role='tool' also matches arm 'ref'),
            # so the 'ref' Pattern must NOT apply: BADFMT passes arm 'call'
            ("c1", 1, "tool", "t", "BADFMT", TS),
            # arm 'ref': assistant with malformed tool -> Pattern@ref fires
            ("c1", 2, "assistant", "t", "XX", TS),
            # arm 'ref': assistant, well-formed -> clean
            ("c1", 3, "assistant", "t", "tool-123", TS),
            # default type: user must have NO tool -> Prohibited@default
            ("c1", 4, "user", "t", "tool-123", TS),
            # default, clean
            ("c1", 5, "user", "t", None, TS),
        ],
    )
    got = cids(validate(df, alt_spec()))
    assert got == [
        (0, "facet:tool:Required@call"),
        (2, "facet:tool:Pattern@ref"),
        (4, "facet:tool:Prohibited@default"),
    ]


def test_unconditional_arm_shadows_later_arms(spark):
    spec = S.TableSpec(
        name="transcripts",
        columns=(
            S.ColumnSpec(
                "tool",
                alternatives=(
                    S.TypeAlternative(facets=(), name="anytype"),  # test=None
                    S.TypeAlternative(
                        test="role = 'tool'",
                        facets=(S.Required(),),
                        name="never",
                    ),
                ),
            ),
        ),
    )
    # role='tool' with NULL tool would violate arm 'never', but the
    # unconditional arm matches first (alt.token is None) and has no facets
    df = mk(spark, [("c1", 0, "tool", "t", None, TS)])
    assert validate(df, spec).violations.count() == 0


def test_null_test_selects_nothing(spark):
    spec = S.TableSpec(
        name="transcripts",
        columns=(
            S.ColumnSpec(
                "text",
                facets=(S.MinLength(3),),  # default type
                alternatives=(
                    # tool IS NULL here -> test evaluates to NULL -> no match
                    S.TypeAlternative(
                        test="tool = 'tool-001'", facets=(), name="skiparm"
                    ),
                ),
            ),
        ),
    )
    df = mk(spark, [("c1", 0, "user", "ab", None, TS)])
    got = cids(validate(df, spec))
    assert got == [(0, "facet:text:MinLength@default")]


GAUGE_XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:complexType name="Gauge">
    <xs:attribute name="mode" type="xs:string"/>
  </xs:complexType>
  <xs:complexType name="GaugeA"><xs:complexContent>
    <xs:extension base="Gauge">
      <xs:attribute name="level" type="xs:int" use="required"/>
    </xs:extension></xs:complexContent>
  </xs:complexType>
  <xs:complexType name="GaugeB"><xs:complexContent>
    <xs:extension base="Gauge">
      <xs:attribute name="unit" type="xs:string" use="required"/>
    </xs:extension></xs:complexContent>
  </xs:complexType>
  <xs:element name="panel"><xs:complexType><xs:sequence>
    <xs:element name="gauge" type="Gauge" maxOccurs="unbounded">
      <xs:alternative test="@mode='A'" type="GaugeA"/>
      <xs:alternative test="@mode='A'" type="GaugeB"/>
      <xs:alternative test="@mode='B'" type="GaugeB"/>
    </xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""


def test_xsd_alternative_arms_in_instance(spark, tmp_path):
    """xs:alternative on an instance element (elements.py:1345-1365): a
    row whose @mode test matches validates against that arm's type, the
    FIRST matching arm wins (the second @mode='A' arm never applies), and
    a row matching no arm keeps the declared type."""
    from collections import Counter

    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    c = compile_xsd(GAUGE_XSD, version="1.1")
    assert [(rt.attr, rt.value, rt.name) for rt in c.row_types["gauge"]
            if rt.kind == "alt"] == [
        ("mode", "A", "GaugeA"), ("mode", "A", "GaugeB"),
        ("mode", "B", "GaugeB")]
    p = tmp_path / "panel.xml"
    p.write_text(
        '<panel><gauge mode="A" level="5"/><gauge mode="A"/>'
        '<gauge mode="A" level="high"/><gauge mode="B"/>'
        '<gauge mode="B" unit="bar"/><gauge mode="C"/><gauge/></panel>'
    )
    got = Counter(
        (r["path"], r["constraint_id"], r["offending_value"])
        for r in validate_xml_instance(spark, str(p), c).collect()
    )
    assert got == Counter([
        # GaugeA: level is a required xs:int
        ("gauge/level", "facet:level:Required", None),
        ("gauge/level", "facet:level:BuiltinLexical", "high"),
        # GaugeB: unit is required
        ("gauge/unit", "facet:unit:Required", None),
    ])
