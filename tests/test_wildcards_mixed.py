"""xs:any / xs:anyAttribute / xs:openContent wildcard markers and
mixed="true" content — the round-4 verdict's wrong-answer repros plus
reference-case parity (wildcards.py:33-164; complex_types.py:35;
groups.py:425-431; features/decoder/mixed-content.xsd + data4-mixed.xml)."""

import pytest

from conftest import corpus
from sissaschool_xmlschema_spark.sources.xml_instance import (
    count_errors,
    sniff_nsmap,
    validate_xml_instance,
)
from sissaschool_xmlschema_spark.xsd_compile import Wildcard, compile_xsd

WILDCARD_XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
           targetNamespace="urn:t" xmlns="urn:t"
           elementFormDefault="unqualified">
  <xs:element name="items"><xs:complexType><xs:sequence>
    <xs:element name="item" maxOccurs="unbounded">
      <xs:complexType>
        <xs:sequence>
          <xs:element name="name" type="xs:string"/>
          <xs:any namespace="##other" processContents="lax"
                  minOccurs="0" maxOccurs="unbounded"/>
        </xs:sequence>
        <xs:anyAttribute processContents="skip"/>
      </xs:complexType>
    </xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""


def test_wildcards_compile_to_markers():
    """xs:any / xs:anyAttribute are compiled, not silently dropped: the
    markers carry the namespace set and processContents mode, and
    restrictions stays clean (the r4 contract breach)."""
    c = compile_xsd(WILDCARD_XSD)
    w = set(c.row_types["item"][0].wildcards)
    assert Wildcard((), "element", "##other", "lax") in w
    assert Wildcard((), "attribute", "##any", "skip") in w
    assert c.restrictions == ()
    assert c.target_namespace == "urn:t"


def test_wildcard_document_validates_clean(spark, tmp_path):
    """The r4 verdict repro: <o:widget> under ##other/lax and extra="1"
    under anyAttribute/skip — the reference validates this clean; the
    engine emitted 2 false violations before wildcards were compiled."""
    c = compile_xsd(WILDCARD_XSD)
    p = tmp_path / "wild.xml"
    p.write_text(
        '<items xmlns="urn:t" xmlns:o="urn:other">'
        '<item extra="1"><name>a</name><o:widget>x</o:widget></item>'
        "</items>"
    )
    assert count_errors(spark, str(p), c) == 0


def test_wildcard_other_rejects_target_namespace(spark, tmp_path):
    """##other does NOT admit the target namespace: an undeclared element
    in urn:t is still flagged even though the wildcard admits urn:other."""
    c = compile_xsd(WILDCARD_XSD)
    p = tmp_path / "wild2.xml"
    p.write_text(
        '<items xmlns="urn:t" xmlns:t="urn:t">'
        "<item><name>a</name><t:widget>x</t:widget></item>"
        "</items>"
    )
    v = validate_xml_instance(spark, str(p), c)
    rows = v.collect()
    assert len(rows) == 1
    assert rows[0]["constraint_id"] == "structure:undeclared-element"


def test_wildcard_strict_requires_declaration(spark, tmp_path):
    """processContents="strict": admitted only when a matching global
    declaration exists; an unknown name keeps the flag."""
    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="extra" type="xs:string"/>
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="rec" maxOccurs="unbounded">
      <xs:complexType><xs:sequence>
        <xs:element name="name" type="xs:string"/>
        <xs:any processContents="strict" minOccurs="0"/>
      </xs:sequence></xs:complexType>
    </xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    ok = tmp_path / "ok.xml"
    ok.write_text(
        "<doc><rec><name>a</name><extra>x</extra></rec></doc>")
    assert count_errors(spark, str(ok), c, table="rec") == 0
    bad = tmp_path / "bad.xml"
    bad.write_text(
        "<doc><rec><name>a</name><mystery>x</mystery></rec></doc>")
    v = validate_xml_instance(spark, str(bad), c, table="rec")
    rows = v.collect()
    assert len(rows) == 1
    assert rows[0]["constraint_id"] == "structure:undeclared-element"


def test_mixed_content_repro(spark, tmp_path):
    """The r4 verdict's second repro: <item>hello <a>x</a> world</item>
    under a mixed="true" complexType — 0 violations (was 1 false
    structure:char-data)."""
    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="item" maxOccurs="unbounded">
      <xs:complexType mixed="true"><xs:sequence>
        <xs:element name="a" type="xs:string" minOccurs="0"/>
      </xs:sequence></xs:complexType>
    </xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    assert () in c.row_types["item"][0].mixed
    p = tmp_path / "mixed.xml"
    p.write_text("<doc><item>hello <a>x</a> world</item></doc>")
    assert count_errors(spark, str(p), c) == 0


def test_mixed_reference_case_data4(spark):
    """features/decoder/data4-mixed.xml against mixed-content.xsd
    (testfiles:38-39): container-level mixed text among repeated simple
    children — 0 errors, exact reference parity."""
    base = corpus("features/decoder")
    c = compile_xsd(f"{base}/mixed-content.xsd")
    assert "data" in c.mixed_containers
    assert count_errors(spark, f"{base}/data4-mixed.xml", c) == 0


def test_open_content_interleave(spark, tmp_path):
    """XSD 1.1 xs:openContent mode="interleave" (groups.py:425-431):
    wildcard content anywhere in the model validates clean."""
    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="rec" maxOccurs="unbounded">
      <xs:complexType>
        <xs:openContent mode="interleave">
          <xs:any namespace="##any" processContents="lax"/>
        </xs:openContent>
        <xs:sequence>
          <xs:element name="name" type="xs:string"/>
        </xs:sequence>
      </xs:complexType>
    </xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    assert any(w.kind == "element" for w in c.row_types["rec"][0].wildcards)
    p = tmp_path / "oc.xml"
    p.write_text(
        "<doc><rec><surprise>1</surprise><name>a</name></rec></doc>")
    assert count_errors(spark, str(p), c, table="rec") == 0


def test_no_silent_drop_sweep():
    """Compiler contract: an unknown model-group child never disappears —
    it lands in restrictions."""
    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="rec" maxOccurs="unbounded">
      <xs:complexType><xs:sequence>
        <xs:element name="name" type="xs:string"/>
        <xs:mystery/>
      </xs:sequence></xs:complexType>
    </xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    assert any("xs:mystery" in r for r in c.restrictions)


def test_sniff_nsmap(tmp_path):
    p = tmp_path / "ns.xml"
    p.write_text(
        "<a:root xmlns:a='urn:a' xmlns=\"urn:default\" "
        'xmlns:b="urn:b"/>'
    )
    m = sniff_nsmap(str(p))
    assert m == {"a": "urn:a", "": "urn:default", "b": "urn:b"}


@pytest.mark.parametrize(
    "ns,uri,target,want",
    [
        ("##any", "urn:x", "urn:t", True),
        ("##other", "urn:x", "urn:t", True),
        ("##other", "urn:t", "urn:t", False),
        ("##other", "", "urn:t", False),
        ("##other", None, "urn:t", True),  # unresolvable prefix: foreign
        ("##targetNamespace", "urn:t", "urn:t", True),
        ("##targetNamespace", "urn:x", "urn:t", False),
        ("##local", "", "urn:t", True),
        ("##local", "urn:t", "urn:t", False),
        ("urn:a urn:b", "urn:b", "urn:t", True),
        ("urn:a urn:b", "urn:c", "urn:t", False),
        ("##local urn:a", "", "urn:t", True),
    ],
)
def test_ns_admits(ns, uri, target, want):
    from sissaschool_xmlschema_spark.sources.xml_instance import _ns_admits

    assert _ns_admits(ns, uri, target) is want


@pytest.mark.parametrize("ns, upa", [("##any", True), ("##other", False)])
def test_unbound_prefix_overlaps_any_alone(ns, upa):
    """The schema checker's reading of the one namespace-set rule: an
    element reference whose prefix is unbound overlaps an ``##any``
    wildcard but not an ``##other`` one, where the instance reader
    (``("##other", None)`` above) admits such a node."""
    from sissaschool_xmlschema_spark.xsd_meta import validate_schema_document

    xsd = (
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        '<xs:element name="a" type="xs:string"/>'
        '<xs:element name="doc"><xs:complexType><xs:choice>'
        f'<xs:element ref="zz:a"/><xs:any namespace="{ns}"/>'
        "</xs:choice></xs:complexType></xs:element></xs:schema>"
    )
    codes = {e.code for e in validate_schema_document(xsd)}
    assert ("upa-violation" in codes) is upa
