"""XML-instance validation against reference example schemas/instances —
exact --errors=N parity with the reference testfiles
(the reference tests/test_cases/testfiles:11-26; factory
xmlschema/testing/_factory.py:11-42)."""

import os
from collections import Counter

import pytest

from conftest import corpus
from sissaschool_xmlschema_spark.sources.xml_instance import (
    count_errors,
    sniff_prefix,
    validate_xml_instance,
)
from sissaschool_xmlschema_spark.xsd_compile import compile_xsd


def _triples(violations) -> Counter:
    """The violation rows as a ``(path, constraint_id, offending_value)``
    multiset."""
    return Counter(
        (r["path"], r["constraint_id"], r["offending_value"])
        for r in violations.collect()
    )


FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
# repo-authored document mixing every row-set kind (see its schema)
SHOP_XSD = os.path.join(FIXTURES, "shop.xsd")
SHOP_XML = os.path.join(FIXTURES, "shop.xml")

# reference corpus directories (tests/conftest.py: corpus)
VB = "examples/vehicles"
CB = "examples/collection"
IB = "issues"
FB = "features"
MB = "examples/menù"

CASES = [
    # issue_008: both xs:choice branches present -> one mutual-exclusion
    # violation (compiled choice RowAssertion)
    (f"{IB}/issue_008/issue_008.xml", f"{IB}/issue_008/issue_008.xsd", 1),
    # (instance, schema, expected errors) — straight from testfiles
    # issue_026: repeated <xs:sequence maxOccurs="unbounded"> makes bar a
    # row element; -2 violates fixed="BAR", -3 misses the required attr
    (f"{IB}/issue_026/issue_026-1.xml", f"{IB}/issue_026/issue_026.xsd", 0),
    (f"{IB}/issue_026/issue_026-2.xml", f"{IB}/issue_026/issue_026.xsd", 1),
    (f"{IB}/issue_026/issue_026-3.xml", f"{IB}/issue_026/issue_026.xsd", 1),
    # issue_028: pure-singleton document (xs:all of two required fields)
    (f"{IB}/issue_028/issue_028-1.xml", f"{IB}/issue_028/issue_028.xsd", 0),
    (f"{IB}/issue_028/issue_028-2.xml", f"{IB}/issue_028/issue_028.xsd", 1),
    # issue_029: sequence of two required singletons; -2 (fully empty
    # document): the reference emits ONE content-not-complete error — the
    # model-error collapse (_collapse_model_errors) reproduces that
    # granularity from the flat engine's per-field Required reports
    (f"{IB}/issue_029/issue_029-1.xml", f"{IB}/issue_029/issue_029.xsd", 0),
    (f"{IB}/issue_029/issue_029-2.xml", f"{IB}/issue_029/issue_029.xsd", 1),
    (f"{IB}/issue_029/issue_029-3.xml", f"{IB}/issue_029/issue_029.xsd", 1),
    # features/models: 0 comments (min 4) + 6 names (max 3) is ONE
    # ModelVisitor error at the broken <data> container (testfiles:64)
    (f"{FB}/models/model1.xml",
     f"{FB}/models/models.xsd", 1),
    # issue_035: xs:int lexical on a row field
    (f"{IB}/issue_035/dates.xml", f"{IB}/issue_035/dates.xsd", 1),
    (f"{IB}/issue_073/issue_073-1.xml", f"{IB}/issue_073/issue_073.xsd", 0),
    (f"{IB}/issue_073/issue_073-2.xml", f"{IB}/issue_073/issue_073.xsd", 1),
    (f"{VB}/vehicles.xml", f"{VB}/vehicles.xsd", 0),
    (f"{VB}/vehicles-1_error.xml", f"{VB}/vehicles.xsd", 1),
    (f"{VB}/vehicles-2_errors.xml", f"{VB}/vehicles.xsd", 2),
    (f"{VB}/vehicles-3_errors.xml", f"{VB}/vehicles.xsd", 3),
    (f"{CB}/collection.xml", f"{CB}/collection.xsd", 0),
    (f"{CB}/collection-1_error.xml", f"{CB}/collection.xsd", 1),
    (f"{CB}/collection2.xml", f"{CB}/collection2.xsd", 1),
    (f"{CB}/collection3.xml", f"{CB}/collection3.xsd", 1),
    # collection3bis: key ON the author element (selector '.') — upward
    # propagation is last-sibling-override, 'PAR' no longer referable
    (f"{CB}/collection3bis.xml", f"{CB}/collection3bis.xsd", 1),
    # issue_013: simpleContent restriction narrows the text (maxLength 30)
    (f"{IB}/issue_013/issue_013.xml", f"{IB}/issue_013/issue_013-1.xsd", 0),
    (f"{IB}/issue_013/issue_013-1.xml", f"{IB}/issue_013/issue_013-1.xsd",
     0),
    (f"{IB}/issue_013/issue_013-2.xml", f"{IB}/issue_013/issue_013-1.xsd",
     1),
    # issue_223: root element IS one simple value (document-value table,
    # whiteSpace=preserve keeps the trailing newline that defeats the
    # pattern — \\A..\\z anchoring, not ^..$)
    (f"{IB}/issue_223/issue_223.xml", f"{IB}/issue_223/issue_223.xsd", 1),
    # mixed content (features/decoder, testfiles:38-39)
    (f"{FB}/decoder/data4-mixed.xml",
     f"{FB}/decoder/mixed-content.xsd",
     0),
]


@pytest.mark.parametrize(
    "xml,xsd,expected", CASES,
    ids=[c[0].rsplit("/", 1)[-1] for c in CASES],
)
def test_reference_instance_error_counts(spark, xml, xsd, expected):
    assert count_errors(spark, corpus(xml), corpus(xsd)) == expected


# Every remaining testfiles XML instance (the valid ones expect 0 errors;
# r5 closes the full 57-instance sweep): version-aware cases, schema
# resolved the way the factory does (xsi:schemaLocation or the -L flag).
CASES_FULL_SWEEP = [
    # hyphenated element/attribute names must not parse as SQL arithmetic
    # in assertion/range lowerings (quoting + IntRange fixes)
    (f"{IB}/issue_208/issue_208.xml", f"{IB}/issue_208/issue_208.xsd",
     "1.0", 0),
    # hexBinary fixed/enumeration compare in the VALUE space
    (f"{IB}/issue_222/issue_222.xml", f"{IB}/issue_222/issue_222.xsd",
     "1.0", 0),
    # nillable + xsi:nil satisfies Required (nil column extraction)
    (f"{IB}/issue_243/issue_243.xml", f"{IB}/issue_243/issue_243.xsd",
     "1.1", 0),
    # XSD 1.1 conditional type alternatives (@mode='A' arm overlays)
    (f"{IB}/issue_018/issue_018-1.xml", f"{IB}/issue_018/issue_018.xsd",
     "1.1", 0),
    (f"{FB}/elements/test_alternatives-1.xml",
     f"{FB}/elements/type_alternatives.xsd", "1.1", 0),
    # mutually recursive global elements (cycle cut, zero-column doc tables)
    (f"{FB}/namespaces/import-case4-1.xml",
     f"{FB}/namespaces/import-case4a.xsd", "1.0", 0),
    (f"{FB}/namespaces/import-case4-2.xml",
     f"{FB}/namespaces/import-case4a.xsd", "1.0", 0),
    # self-recursive content model (NodeList -> ... -> NodeList)
    (f"{IB}/issue_437/issue_437-1.xml", f"{IB}/issue_437/issue_437.xsd",
     "1.1", 0),
    (f"{IB}/issue_437/issue_437-2.xml", f"{IB}/issue_437/issue_437.xsd",
     "1.1", 0),
    # all-wildcard content chain (zero-column doc table keeps markers)
    (f"{IB}/issue_298/issue_298-1.xml", f"{IB}/issue_298/issue_298.xsd",
     "1.0", 0),
    (f"{IB}/issue_298/issue_298-2.xml", f"{IB}/issue_298/issue_298.xsd",
     "1.0", 0),
    # length facets on a list type bound the ITEM COUNT (point = 2 items)
    (f"{IB}/issue_311/correct_no_list.xml",
     f"{IB}/issue_311/kPartModel_reduit_issue.xsd", "1.1", 0),
    (f"{IB}/issue_311/incorrect_with_list.xml",
     f"{IB}/issue_311/kPartModel_reduit_issue.xsd", "1.1", 0),
    # plain valid instances from the sweep
    (f"{FB}/builtins/builtins.xml", f"{FB}/builtins/builtins.xsd",
     "1.0", 0),
    (f"{IB}/issue_041/issue_041.xml", f"{IB}/issue_041/issue_041.xsd",
     "1.0", 0),
    (f"{IB}/issue_051/issue_051.xml", f"{IB}/issue_051/issue_051.xsd",
     "1.0", 0),
    (f"{IB}/issue_086/issue_086-1.xml", f"{IB}/issue_086/issue_086.xsd",
     "1.0", 0),
    (f"{IB}/issue_086/issue_086-2.xml", f"{IB}/issue_086/issue_086.xsd",
     "1.0", 0),
    (f"{IB}/issue_203/issue_203.xml", f"{IB}/issue_203/issue_203.xsd",
     "1.1", 0),
    (f"{IB}/issue_266/issue_266-1.xml", f"{IB}/issue_266/issue_266-1.xsd",
     "1.0", 0),
    (f"{IB}/issue_266/issue_266-2.xml", f"{IB}/issue_266/issue_266-2.xsd",
     "1.0", 0),
    (f"{IB}/issue_276/dummy.xml", f"{IB}/issue_276/schema.xsd", "1.0", 0),
    (f"{IB}/issue_417/issue_417.xml", f"{IB}/issue_417/issue_417.xsd",
     "1.0", 0),
    (f"{CB}/collection4.xml", f"{CB}/collection4.xsd", "1.0", 0),
]


@pytest.mark.parametrize(
    "xml,xsd,version,expected", CASES_FULL_SWEEP,
    ids=[c[0].rsplit("/", 1)[-1] for c in CASES_FULL_SWEEP],
)
def test_reference_instance_full_sweep(spark, xml, xsd, version, expected):
    """With these, EVERY XML instance in the reference's testfiles list
    (57 of 57) validates with exact parity."""
    assert count_errors(
        spark, corpus(xml), corpus(xsd), version=version
    ) == expected


def test_structural_kinds(spark):
    """vehicles-3: one char-data block (cars), one undeclared attribute
    (color on car), one char-data block (bikes)."""
    v = validate_xml_instance(
        spark, corpus(f"{VB}/vehicles-3_errors.xml"),
        corpus(f"{VB}/vehicles.xsd"),
    )
    kinds = sorted(r["constraint_id"] for r in v.collect())
    assert kinds == [
        "structure:char-data",
        "structure:char-data",
        "structure:undeclared-attribute",
    ]


def test_lexical_form_survives_inference(spark):
    """collection-1_error: position '2.0' violates xs:int; the sibling '1'
    must NOT be rewritten to '1.0' by typed inference (inferSchema=false)."""
    v = validate_xml_instance(
        spark, corpus(f"{CB}/collection-1_error.xml"),
        corpus(f"{CB}/collection.xsd"),
    )
    rows = v.collect()
    assert len(rows) == 1
    assert rows[0]["offending_value"] == "2.0"
    assert "BuiltinLexical" in rows[0]["constraint_id"]


def test_duplicate_key_via_nested_attribute(spark):
    """collection2: key object/author/@dn duplicated ('JM' twice) — the
    nested attribute is extracted through column_paths (author_dn)."""
    v = validate_xml_instance(
        spark, corpus(f"{CB}/collection2.xml"),
        corpus(f"{CB}/collection2.xsd"),
    )
    rows = v.collect()
    assert len(rows) == 1
    assert rows[0]["constraint_id"] == "key:author_key_constraint"
    assert "JM" in rows[0]["offending_value"]


def test_cross_table_keyref(spark):
    """collection3: object.author ('PARQ') must reference author/@dn keys
    defined on a DIFFERENT row element — executed as the cross-table
    broadcast/hash keyref (ExternalKeyref)."""
    v = validate_xml_instance(
        spark, corpus(f"{CB}/collection3.xml"),
        corpus(f"{CB}/collection3.xsd"),
    )
    rows = v.collect()
    assert len(rows) == 1
    assert rows[0]["constraint_id"] == "keyref:author_dn_ref"
    assert "PARQ" in rows[0]["offending_value"]


def test_single_element_key_last_wins(spark):
    """collection3bis puts the key ON the author element (selector '.'):
    the reference resolves it with last-sibling-override propagation — the
    2nd author's dn ('JM') overrides 'PAR', so the object referencing
    'PAR' trips the keyref (and duplicate sibling keys are NOT a per-doc
    uniqueness violation)."""
    c = compile_xsd(corpus(f"{CB}/collection3bis.xsd"))
    assert len(c.external_keyrefs) == 1
    assert c.external_keyrefs[0].last_wins
    v = validate_xml_instance(spark, corpus(f"{CB}/collection3bis.xml"), c)
    rows = v.collect()
    assert len(rows) == 1
    assert rows[0]["constraint_id"] == "keyref:author_dn_ref"
    assert "PAR" in rows[0]["offending_value"]


def test_sniff_prefix():
    assert sniff_prefix(corpus(f"{VB}/vehicles.xml"), "vehicles") == "vh:"
    assert sniff_prefix(
        corpus(f"{CB}/collection2.xml"), "collection"
    ) == "col:"


def test_xml_instance_tables_decode(spark):
    """xml_instance_tables = the decode/to_dict analogue: flat string-typed
    tables per row element with nested values extracted."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        xml_instance_tables,
    )

    tabs = xml_instance_tables(
        spark, corpus(f"{CB}/collection.xml"),
        corpus(f"{CB}/collection.xsd"),
    )
    assert list(tabs) == ["object"]
    rows = {r["id"]: r for r in tabs["object"].collect()}
    assert rows["b0836217462"]["author_name"] == "Pierre-Auguste Renoir"
    assert rows["b0836217462"]["position"] == "1"  # lexical form intact
    assert rows["b0836217463"]["estimation"] is None  # absent element

    vt = xml_instance_tables(
        spark, corpus(f"{VB}/vehicles.xml"), corpus(f"{VB}/vehicles.xsd"),
    )
    assert sorted(vt) == ["bike", "car"]
    assert vt["car"].count() == 2
    assert {r["make"] for r in vt["bike"].collect()} == {
        "Harley-Davidson", "Yamaha"}


def test_menu_simple_row_tables(spark):
    """Repeated SIMPLE children of a global element compile to one-column
    row tables (menù example: unicode element name + file path), validate
    clean, and decode with order preserved."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        xml_instance_tables,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    c = compile_xsd(corpus(f"{MB}/menù.xsd"))
    assert sorted(c.specs) == ["antipasto", "dolce", "primo", "secondo"]
    # one 'value' column holding each element's own text
    assert {t: rts[0].column_paths for t, rts in c.row_types.items()} == {
        t: {"value": ()} for t in c.specs}
    assert count_errors(spark, corpus(f"{MB}/menù.xml"), c) == 0
    tabs = xml_instance_tables(spark, corpus(f"{MB}/menù.xml"), c)
    assert sorted(r["value"] for r in tabs["dolce"].collect()) == [
        "Crostata ai mirtilli", "Tiramisù"]


def test_menu_occurs_violation(spark, tmp_path):
    """maxOccurs=10 on a simple-row element: an instance with 11 antipasti
    trips the per-document Occurs bound."""
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    c = compile_xsd(corpus(f"{MB}/menù.xsd"))
    items = "".join(f"<antipasto>a{i}</antipasto>" for i in range(11))
    doc = (f"<menù>{items}<primo>p</primo><secondo>s</secondo>"
           f"<dolce>d</dolce></menù>")
    p = tmp_path / "menu11.xml"
    p.write_text(f'<?xml version="1.0" encoding="UTF-8"?>\n{doc}',
                 encoding="utf-8")
    v = validate_xml_instance(spark, str(p), c, table="antipasto")
    rows = v.collect()
    assert len(rows) == 1
    assert rows[0]["constraint_id"] == "occurs:occurs-antipasto"


def test_simple_content_instance_roundtrip(spark, tmp_path):
    """simpleContent extension end-to-end: declared attribute extracts
    into its column (Required satisfied), text keeps its lexical form,
    an undeclared attribute on the same element is flagged."""
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="item" maxOccurs="unbounded">
      <xs:complexType><xs:sequence>
        <xs:element name="price">
          <xs:complexType><xs:simpleContent>
            <xs:extension base="xs:decimal">
              <xs:attribute name="currency" type="xs:string" use="required"/>
            </xs:extension>
          </xs:simpleContent></xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType>
    </xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    good = tmp_path / "good.xml"
    good.write_text(
        '<doc><item><price currency="EUR">10.50</price></item>'
        '<item><price currency="USD">3</price></item></doc>')
    assert count_errors(spark, str(good), c) == 0

    bad = tmp_path / "bad.xml"
    bad.write_text(
        '<doc><item><price>oops</price></item>'
        '<item><price currency="EUR" tax="x">1</price></item></doc>')
    v = validate_xml_instance(spark, str(bad), c)
    kinds = sorted(r["constraint_id"] for r in v.collect())
    # missing required currency + non-decimal text + undeclared tax attr
    assert kinds == [
        "facet:price:BuiltinLexical",
        "facet:price_currency:Required",
        "structure:undeclared-attribute",
    ]


def test_patterns_feature_case_exact_errors(spark):
    """features/patterns/patterns.xml --errors=7 (reference testfiles:93) —
    exercises the XSD regex dialect end-to-end: literal ^/$ (no anchors in
    XSD regexes: '^$' VALID against '^$|.{3}', '' invalid), \\p{Is...}
    unicode blocks, class subtraction [\\i-[:]], XSD \\w/\\W, the empty
    alternation branch, xs:Name lexicals, and element-content xs:ID
    uniqueness."""
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    base = corpus(f"{FB}/patterns")
    c = compile_xsd(f"{base}/patterns.xsd")
    v = validate_xml_instance(spark, f"{base}/patterns.xml", c)
    got = sorted(
        (r["path"], r["constraint_id"], r["offending_value"])
        for r in v.collect()
    )
    assert got == [
        ("BasicString/value", "facet:value:Pattern", "façade"),
        ("CRSw/value", "facet:value:Pattern", ""),
        ("ISBN", "unique:ISBN-id-unique", "b0123456789012"),
        ("ISBN/value", "facet:value:Pattern", "b01234567890123"),
        ("Prefix/value", "facet:value:BuiltinLexical", "cc: dd:@#!%"),
        ("Prefix/value", "facet:value:Pattern", "cc"),
        ("ZipCode/value", "facet:value:Pattern", "I-55555"),
    ]


def test_decoder_data2_exact_errors(spark):
    """features/decoder/data2.xml --errors=2 (testfiles:37): the repeated
    celsius values live in a simple-row table (totalDigits=4 — leading and
    trailing zeros don't count, 0500.0 and 500.00 pass, 50000.0 fails) and
    the singleton fields live in the document-singleton 'data' table
    (config's pattern rejects 'foo alternative')."""
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    base = corpus(f"{FB}/decoder")
    c = compile_xsd(f"{base}/simple-types.xsd")
    assert "data" in c.doc_rows
    # simpleContent row element: text + attribute columns
    cert = {col.name for col in c.specs["certification"].columns}
    assert cert == {"value", "Year"}
    v = validate_xml_instance(spark, f"{base}/data2.xml", c)
    got = sorted(
        (r["path"], r["constraint_id"], r["offending_value"])
        for r in v.collect()
    )
    assert got == [
        ("celsiusBodyTemp/value", "facet:value:TotalDigits", "50000.0"),
        ("data/config", "facet:config:Pattern", "foo alternative"),
    ]


def test_list_types_exact_errors(spark):
    """features/derivations/list_types.xml --errors=2 (testfiles:45):
    xs:list of xs:integer — '10.0 20 30' and 'hello' each fail item
    validation; ' 10 20 30 ' passes (whiteSpace collapse before split)."""
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    base = corpus(f"{FB}/derivations")
    c = compile_xsd(f"{base}/list_types.xsd")
    v = validate_xml_instance(spark, f"{base}/list_types.xml", c)
    vals = sorted(r["offending_value"] for r in v.collect())
    assert vals == ["10.0 20 30", "hello"]


def test_absent_required_row_element(spark, tmp_path):
    """minOccurs>0 on a row element entirely absent from the document:
    content-model errors collapse to ONE per container element instance
    (reference ModelVisitor granularity — features/models/model1.xml
    --errors=1: the absent comment under-occurrence is reported, the name
    over-occurrence inside the same broken container is not)."""
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="comment" type="xs:string" minOccurs="4"
                maxOccurs="10"/>
    <xs:element name="name" type="xs:string" maxOccurs="3"/>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    p = tmp_path / "m1.xml"
    p.write_text("<doc>" + "<name>Paul</name>" * 6 + "</doc>")
    v = validate_xml_instance(spark, str(p), c)
    got = sorted((r["path"], r["constraint_id"]) for r in v.collect())
    # absent comment (min 4) + name over max (3) are the same container's
    # content model: one collapsed violation, first in model order
    assert got == [("doc/comment", "occurs:occurs-comment")]


def test_collapse_keeps_first_error_in_model_order(spark, tmp_path):
    """The collapsed content-model error is the container's FIRST failing
    particle in schema order, not the alphabetically first path: zeta
    precedes alpha under doc, omega precedes beta inside item."""
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="zeta" type="xs:string" minOccurs="2" maxOccurs="9"/>
    <xs:element name="alpha" type="xs:string" minOccurs="2" maxOccurs="9"/>
    <xs:element name="item" minOccurs="3" maxOccurs="unbounded">
      <xs:complexType>
      <xs:sequence>
        <xs:element name="omega" type="xs:string"/>
        <xs:element name="beta" type="xs:string"/>
      </xs:sequence>
      <xs:attribute name="id" type="xs:string"/>
    </xs:complexType></xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    p = tmp_path / "order.xml"
    p.write_text('<doc><item id="1"/></doc>')
    got = sorted(
        r["path"] for r in validate_xml_instance(spark, str(p), c).collect()
    )
    assert got == ["doc/zeta", "item/omega"]


def test_collapse_on_mixed_rows(spark, tmp_path):
    """One item with two content-model errors (omega and beta absent), an
    attribute facet error and a duplicated key: the model errors collapse
    to the first in model order, every other row stays as it is.  Under
    doc, the too-few-items error ranks and sorts after the duplicate key
    on the same path: a non-model row never displaces a model row."""
    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="item" minOccurs="3" maxOccurs="unbounded">
      <xs:complexType>
        <xs:sequence>
          <xs:element name="omega" type="xs:string"/>
          <xs:element name="beta" type="xs:string"/>
        </xs:sequence>
        <xs:attribute name="id" type="xs:string" use="required"/>
        <xs:attribute name="code">
          <xs:simpleType><xs:restriction base="xs:string">
            <xs:pattern value="[A-Z]{3}"/>
          </xs:restriction></xs:simpleType>
        </xs:attribute>
      </xs:complexType>
    </xs:element>
  </xs:sequence></xs:complexType>
  <xs:key name="itemKey">
    <xs:selector xpath="item"/><xs:field xpath="@id"/>
  </xs:key>
  </xs:element>
</xs:schema>"""
    p = tmp_path / "mixed.xml"
    p.write_text(
        '<doc><item id="k" code="abc"/>'
        '<item id="k" code="XYZ"><omega>o</omega><beta>b</beta></item></doc>'
    )
    got = _triples(validate_xml_instance(spark, str(p), compile_xsd(xsd)))
    assert got == Counter({
        ("item/omega", "facet:omega:Required", None): 1,
        ("item/code", "facet:code:Pattern", "abc"): 1,
        ("item", "key:itemKey", "k"): 1,
        ("item", "occurs:occurs-item", "2"): 1,
    })


def test_valid_optional_absent_row_element(spark, tmp_path):
    """ADVICE r4: a VALID document whose only row element is optional and
    absent must report zero violations, not crash on an empty union."""
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="cars"><xs:complexType><xs:sequence>
    <xs:element name="car" minOccurs="0" maxOccurs="unbounded">
      <xs:complexType>
        <xs:attribute name="make" type="xs:string" use="required"/>
      </xs:complexType>
    </xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    p = tmp_path / "empty.xml"
    p.write_text("<cars/>")
    v = validate_xml_instance(spark, str(p), c)
    assert v.count() == 0
    assert v.columns == [
        "conv_id", "turn_idx", "path", "constraint_id",
        "offending_value", "reason",
    ]


def test_sniff_prefix_long_prolog(tmp_path):
    """ADVICE r4: a root element past the first 8 KiB (long comment prolog)
    must still sniff its prefix."""
    p = tmp_path / "long.xml"
    p.write_text(
        '<?xml version="1.0"?>\n<!-- ' + ("x" * 20000)
        + ' -->\n<vh:cars xmlns:vh="urn:v"/>'
    )
    assert sniff_prefix(str(p), "cars") == "vh:"


def test_simple_row_xsi_nil_not_undeclared(spark, tmp_path):
    """ADVICE r4: xsi:nil on a repeated simple element is schema machinery,
    not an undeclared attribute (matches _TableReader.walk); any other
    attribute on it is."""
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="menu"><xs:complexType><xs:sequence>
    <xs:element name="dish" type="xs:string" maxOccurs="unbounded"/>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    p = tmp_path / "nil.xml"
    p.write_text(
        '<menu xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">'
        '<dish>pasta</dish><dish xsi:nil="true"/></menu>'
    )
    v = validate_xml_instance(spark, str(p), c)
    assert v.count() == 0

    # an attribute on a simple-row element is undeclared by construction:
    # a simple type declares none (cvc-complex-type.3.2.2)
    p = tmp_path / "attr.xml"
    p.write_text(
        '<menu><dish>soup</dish><dish spicy="yes">pasta</dish></menu>'
    )
    assert _triples(validate_xml_instance(spark, str(p), c)) == Counter([
        ("menu/dish", "structure:undeclared-attribute", "yes"),
    ])


def test_parquet_landing_path_multi_container(spark, tmp_path):
    """The multi-GB recipe (r4 verdict item 10): land each row-element
    table as parquet, validate tabularly — identical ROW-LEVEL violations
    to the direct XML path, including the cross-table keyref executed
    against the landed key table (collection3: 'PARQ' not a key)."""
    from sissaschool_xmlschema_spark.operators.identity import (
        keyref_violations,
    )
    from sissaschool_xmlschema_spark.plans.runner import validate
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        land_xml_to_parquet,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    c = compile_xsd(corpus(f"{CB}/collection3.xsd"))
    paths = land_xml_to_parquet(
        spark, corpus(f"{CB}/collection3.xml"), c, str(tmp_path / "land")
    )
    assert sorted(paths) == ["author", "object"]

    tabs = {n: spark.read.parquet(p) for n, p in paths.items()}
    parts = [validate(tabs[n], c.specs[n]).violations for n in sorted(tabs)]
    for ext in c.external_keyrefs:
        parts.append(
            keyref_violations(
                tabs[ext.table], ext.keyref, ext.table,
                keys_df=tabs[ext.key_table],
            )
        )
    landed = parts[0]
    for p in parts[1:]:
        landed = landed.unionByName(p)

    direct = validate_xml_instance(
        spark, corpus(f"{CB}/collection3.xml"), c
    )
    key = lambda r: (r["constraint_id"], r["offending_value"])  # noqa: E731
    assert sorted(map(key, landed.collect())) == sorted(
        map(key, direct.collect())
    )
    # and the single expected violation is the cross-table keyref
    assert landed.count() == 1


def test_issue_245_xsi_type_nested_tables(spark):
    """issues/issue_245 --errors=2 (testfiles:134): xsi:type resolves to the
    ContrastVisionTest overlay (elements.py:657-682); its nested repeated
    circle/circle_pressed elements become tables scoped per part row
    (doc#partIndex in the scope column), so the part-scoped key finds the
    duplicated circle_id=1 and the keyref finds the dangling
    circle_pressed -> 0."""
    B = corpus(f"{IB}/issue_245")
    # the schema declares vc:minVersion="1.1" (testfiles runs it with
    # --version=1.1); a 1.0 processor must treat it as inapplicable
    assert compile_xsd(f"{B}/issue_245.xsd").specs == {}
    c = compile_xsd(f"{B}/issue_245.xsd", version="1.1")
    assert sorted(c.specs) == ["circle", "circle_pressed", "part"]
    assert c.nested_tables["circle"].xsi_type == "ContrastVisionTest"
    assert c.restrictions == ()
    got = sorted(
        (r["constraint_id"], r["offending_value"])
        for r in validate_xml_instance(
            spark, f"{B}/issue_245.xml", c
        ).collect()
    )
    assert got == [
        ("key:circle_id_key", "1"),
        ("keyref:circle_id_keyref", "0"),
    ]
    assert count_errors(spark, f"{B}/issue_245-valid.xml", c) == 0


NESTED_XSI_XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:complexType name="ItemBase">
    <xs:attribute name="code" type="xs:string" use="required"/>
  </xs:complexType>
  <xs:complexType name="ItemWide"><xs:complexContent>
    <xs:extension base="ItemBase">
      <xs:attribute name="width" type="xs:int" use="required"/>
    </xs:extension></xs:complexContent>
  </xs:complexType>
  <xs:element name="root"><xs:complexType><xs:sequence>
    <xs:element name="title" type="xs:string"/>
    <xs:element name="items"><xs:complexType><xs:sequence>
      <xs:element name="item" type="ItemBase" maxOccurs="unbounded"/>
    </xs:sequence></xs:complexType></xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""


def test_unknown_xsi_type_is_flagged(spark, tmp_path):
    """An xsi:type that resolves to no compiled type is a violation, not a
    silent skip (r4 verdict missing item 3) — on a row table and on a
    nested table (issue_314 shape: items below a document row, the XSI
    namespace bound to 'b:').  A known derived type validates against its
    overlay, whose violation paths name the overlay table ('rec@Derived');
    the b:type attribute itself is machinery, not undeclared content."""
    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:complexType name="Base"><xs:attribute name="a" type="xs:string"/>
  </xs:complexType>
  <xs:complexType name="Derived"><xs:complexContent>
    <xs:extension base="Base">
      <xs:attribute name="b" type="xs:string" use="required"/>
    </xs:extension></xs:complexContent>
  </xs:complexType>
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="rec" type="Base" maxOccurs="unbounded"/>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    assert ("xsi", "Derived") in [(rt.kind, rt.name)
                                  for rt in c.row_types["rec"]]
    p = tmp_path / "x.xml"
    p.write_text(
        '<doc xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">'
        '<rec xsi:type="Derived" a="1" b="2"/>'
        '<rec xsi:type="Derived" a="1"/>'
        '<rec xsi:type="Mystery" a="1"/>'
        '<rec a="1"/></doc>'
    )
    # row 2: Derived requires @b; row 3: unknown xsi:type
    assert _triples(validate_xml_instance(spark, str(p), c)) == Counter([
        ("doc/rec", "structure:unknown-xsi-type", "Mystery"),
        ("rec@Derived/b", "facet:b:Required", None),
    ])

    c = compile_xsd(NESTED_XSI_XSD)
    assert c.nested_tables["item"].parent_table == "root"
    assert [rt.name for rt in c.row_types["item"]
            if rt.kind == "xsi"] == ["ItemWide"]
    p = tmp_path / "nested.xml"
    p.write_text(
        '<root xmlns:b="http://www.w3.org/2001/XMLSchema-instance">'
        "<title>t</title><items>"
        '<item code="a"/>'
        '<item b:type="ItemWide" code="b" width="3"/>'
        '<item b:type="ItemWide" code="c" width="x"/>'
        '<item b:type="ItemWide" code="d"/>'
        '<item b:type="Nope" code="e"/>'
        "</items></root>"
    )
    assert _triples(validate_xml_instance(spark, str(p), c)) == Counter([
        # ItemWide's width is an xs:int (c) and required (d)
        ("item@ItemWide/width", "facet:width:BuiltinLexical", "x"),
        ("item@ItemWide/width", "facet:width:Required", None),
        # elements.py:657-682: an xsi:type naming no compiled type
        ("root/item", "structure:unknown-xsi-type", "Nope"),
    ])


GATED_XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:complexType name="Part">
    <xs:attribute name="id" type="xs:string" use="required"/>
  </xs:complexType>
  <xs:complexType name="DialPart"><xs:complexContent>
    <xs:extension base="Part"><xs:sequence>
      <xs:element name="dial" maxOccurs="3"><xs:complexType>
        <xs:attribute name="n" type="xs:int" use="required"/>
      </xs:complexType></xs:element>
    </xs:sequence></xs:extension></xs:complexContent>
  </xs:complexType>
  <xs:element name="machine"><xs:complexType><xs:sequence>
    <xs:element name="part" type="Part" maxOccurs="unbounded">
      <xs:key name="dial_n_key">
        <xs:selector xpath="dial"/><xs:field xpath="@n"/>
      </xs:key>
    </xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""


def test_nested_repeated_table_occurs_and_key(spark, tmp_path):
    """Nested repeated elements below a row element are tables scoped per
    parent row: per-parent occurrence bounds and per-parent uniqueness."""
    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="item" maxOccurs="unbounded">
      <xs:complexType><xs:sequence>
        <xs:element name="tag" maxOccurs="3">
          <xs:complexType>
            <xs:attribute name="k" type="xs:string" use="required"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType>
      <xs:unique name="tag_k_unique">
        <xs:selector xpath="tag"/><xs:field xpath="@k"/>
      </xs:unique>
    </xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""
    c = compile_xsd(xsd)
    assert c.nested_tables["tag"].parent_table == "item"
    p = tmp_path / "n.xml"
    p.write_text(
        "<doc>"
        '<item><tag k="a"/><tag k="a"/></item>'  # dup WITHIN one item
        '<item><tag k="a"/><tag k="b"/><tag k="c"/><tag k="d"/></item>'
        "</doc>"
    )
    v = validate_xml_instance(spark, str(p), c)
    got = sorted(r["constraint_id"] for r in v.collect())
    # dup k in item 0 + four tags (max 3) in item 1; the same k across
    # DIFFERENT items is legal (per-parent scope)
    assert got == ["occurs:occurs-tag", "unique:tag_k_unique"]

    # issue_245 shape: the repeated dial exists only in the DialPart
    # xsi:type overlay, so the nested level is gated on it — only parts
    # carrying that xsi:type contribute dial rows, each scoped per part
    c = compile_xsd(GATED_XSD)
    assert c.nested_tables["dial"].parent_table == "part"
    assert c.nested_tables["dial"].xsi_type == "DialPart"
    p = tmp_path / "gated.xml"
    p.write_text(
        '<machine xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">'
        '<part id="p0"><dial n="9"/></part>'
        '<part xsi:type="DialPart" id="p1"><dial n="1"/><dial n="1"/></part>'
        '<part xsi:type="DialPart" id="p2">'
        '<dial n="1"/><dial n="2"/><dial n="3"/><dial n="4"/></part>'
        "</machine>"
    )
    assert _triples(validate_xml_instance(spark, str(p), c)) == Counter([
        # p1: n=1 twice under the part-scoped key (the same n=1 in p2 is
        # another scope)
        ("dial", "key:dial_n_key", "1"),
        # p2: four dials, maxOccurs 3, counted per part
        ("dial", "occurs:occurs-dial", "4"),
        # p0 has the declared type Part, which declares no dial child
        # (cvc-complex-type.3.2.2); the value is the inferred array
        ("machine/part", "structure:undeclared-element", "[{9}]"),
    ])


def test_issue_349_version_gating(spark):
    """issues/issue_349 (testfiles:154-155): vc:minVersion="1.1" makes the
    schema INAPPLICABLE to a 1.0 processor — the document root has no
    declaration (1 error); under 1.1 the schema applies and the document
    is valid (empty element satisfies the required untyped child)."""
    B = corpus(f"{IB}/issue_349")
    v10 = validate_xml_instance(
        spark, f"{B}/issue_349.xml", f"{B}/issue_349.xsd"
    )
    rows = v10.collect()
    assert len(rows) == 1
    assert rows[0]["constraint_id"] == "structure:no-declaration"
    assert rows[0]["offending_value"] == "test"
    c11 = compile_xsd(f"{B}/issue_349.xsd", version="1.1")
    assert count_errors(spark, f"{B}/issue_349.xml", c11) == 0


SUBST_XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:complexType name="ProductType">
    <xs:attribute name="sku" type="xs:string" use="required"/>
  </xs:complexType>
  <xs:complexType name="WidgetType"><xs:complexContent>
    <xs:extension base="ProductType">
      <xs:attribute name="gears" type="xs:int" use="required"/>
    </xs:extension></xs:complexContent>
  </xs:complexType>
  <xs:element name="product" type="ProductType"/>
  <xs:element name="widget" type="WidgetType" substitutionGroup="product"/>
  <xs:element name="catalog"><xs:complexType><xs:sequence>
    <xs:element ref="product" maxOccurs="5"/>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>"""


def test_substitution_members_in_document(spark, tmp_path):
    """A member element standing in for its head (elements.py:611-621):
    member rows validate against the member's type (member-only Required)
    AND merge into the head table, so occurrence bounds count head+member
    rows together and a members-only document satisfies the head."""
    c = compile_xsd(SUBST_XSD)
    assert [rt.name for rt in c.row_types["product"]
            if rt.kind == "member"] == ["widget"]

    ok = tmp_path / "ok.xml"
    ok.write_text(
        '<catalog><product sku="a"/><widget sku="b" gears="3"/></catalog>')
    assert count_errors(spark, str(ok), c) == 0

    bad = tmp_path / "bad.xml"
    bad.write_text('<catalog><product/><widget sku="b"/></catalog>')
    got = sorted(
        r["constraint_id"]
        for r in validate_xml_instance(spark, str(bad), c).collect()
    )
    # base sku Required on the bare product; member-only gears Required on
    # the widget — each exactly once (no double counting)
    assert got == ["facet:gears:Required", "facet:sku:Required"]

    many = tmp_path / "many.xml"
    many.write_text(
        "<catalog>" + '<product sku="a"/>' * 3
        + '<widget sku="b" gears="1"/>' * 3 + "</catalog>")
    got = sorted(
        r["constraint_id"]
        for r in validate_xml_instance(spark, str(many), c).collect()
    )
    assert got == ["occurs:occurs-product"]  # 6 > maxOccurs 5, counted jointly

    only = tmp_path / "only.xml"
    only.write_text('<catalog><widget sku="b" gears="1"/></catalog>')
    assert count_errors(spark, str(only), c) == 0

    # the head never appears: the table is its members alone, and the
    # member-only gears facets still validate against WidgetType
    headless = tmp_path / "headless.xml"
    headless.write_text(
        '<catalog><widget sku="b"/><widget sku="c" gears="two"/></catalog>')
    assert _triples(
        validate_xml_instance(spark, str(headless), c)
    ) == Counter([
        ("widget/gears", "facet:gears:BuiltinLexical", "two"),
        ("widget/gears", "facet:gears:Required", None),
    ])


def _overlay_rec_xsd(derived: str, arm: str = "") -> str:
    """rec of type Base, at most two per doc, @id unique across them;
    ``derived`` is the body of the Derived complexType, ``arm`` an
    xs:alternative child of the rec declaration."""
    return f"""<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:complexType name="Base">
    <xs:attribute name="id" type="xs:string"/>
    <xs:attribute name="kind" type="xs:string"/>
  </xs:complexType>
  <xs:complexType name="Derived">{derived}</xs:complexType>
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="rec" type="Base" maxOccurs="2">{arm}</xs:element>
  </xs:sequence></xs:complexType>
  <xs:unique name="u"><xs:selector xpath="rec"/><xs:field xpath="@id"/>
  </xs:unique></xs:element>
</xs:schema>"""


EXTENDS_BASE = """<xs:complexContent><xs:extension base="Base">
    <xs:attribute name="b" type="xs:string"/>
  </xs:extension></xs:complexContent>"""
RESTRICTS_BASE = """<xs:complexContent><xs:restriction base="Base">
    <xs:attribute name="id"><xs:simpleType>
      <xs:restriction base="xs:string"><xs:maxLength value="1"/>
      </xs:restriction></xs:simpleType></xs:attribute>
    <xs:attribute name="kind" type="xs:string"/>
  </xs:restriction></xs:complexContent>"""
XSI_NS_DECL = 'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"'


@pytest.mark.parametrize("derived, arm, version, marks", [
    pytest.param(EXTENDS_BASE, "", "1.0",
                 ('', 'xsi:type="Derived" '), id="xsi-extension"),
    pytest.param(RESTRICTS_BASE, "", "1.0",
                 ('', 'xsi:type="Derived" '), id="xsi-restriction"),
    pytest.param(EXTENDS_BASE,
                 '<xs:alternative test="@kind=\'d\'" type="Derived"/>', "1.1",
                 ('kind="n" ', 'kind="d" '), id="alternative"),
])
def test_overlay_rows_count_in_their_table(spark, tmp_path, derived, arm,
                                           version, marks):
    """Rows validated under an xsi:type or an xs:alternative arm are still
    rows of their element (elements.py:657-682, :1345-1365): three recs
    break maxOccurs 2 and two share @id a, whatever type two of them
    carry."""
    c = compile_xsd(_overlay_rec_xsd(derived, arm), version=version)
    got = []
    for mark in marks:
        p = tmp_path / f"doc{len(got)}.xml"
        p.write_text(
            f'<doc {XSI_NS_DECL}><rec id="a" {marks[0]}/>'
            f'<rec id="a" {mark}/><rec id="b" {mark}/></doc>'
        )
        got.append(sorted(
            (r["constraint_id"], r["offending_value"])
            for r in validate_xml_instance(spark, str(p), c).collect()
        ))
    assert got[0] == [("occurs:occurs-rec", "3"), ("unique:u", "a")]
    assert got[1] == got[0]


def test_restricting_member_checks_inherited_column_once(spark, tmp_path):
    """A substitution member whose type restricts its head's sku to at
    most two characters: a member row is checked under the member's type
    alone, so sku="toolong" is one MaxLength violation on the member's
    path, and the head's own rows keep the head's facets."""
    xsd = SUBST_XSD.replace(
        """<xs:complexType name="WidgetType"><xs:complexContent>
    <xs:extension base="ProductType">
      <xs:attribute name="gears" type="xs:int" use="required"/>
    </xs:extension></xs:complexContent>""",
        """<xs:complexType name="WidgetType"><xs:complexContent>
    <xs:restriction base="ProductType">
      <xs:attribute name="sku" use="required"><xs:simpleType>
        <xs:restriction base="xs:string"><xs:maxLength value="2"/>
        </xs:restriction></xs:simpleType></xs:attribute>
    </xs:restriction></xs:complexContent>""",
    )
    assert "restriction" in xsd
    p = tmp_path / "r.xml"
    p.write_text('<catalog><product sku="toolong"/><widget sku="toolong"/>'
                 '<widget sku="ok"/></catalog>')
    assert _triples(
        validate_xml_instance(spark, str(p), compile_xsd(xsd))
    ) == Counter([("widget/sku", "facet:sku:MaxLength", "toolong")])


def test_overlay_rows_missing_children_are_one_model_error(spark, tmp_path):
    """A member row and an xsi:type row missing both required children of
    their type report one content-model error each, as a row of the
    declared type does (the reference's ModelVisitor stops at the first)."""
    xsd = SUBST_XSD.replace(
        """<xs:complexType name="ProductType">
    <xs:attribute name="sku" type="xs:string" use="required"/>""",
        """<xs:complexType name="ProductType"><xs:sequence>
    <xs:element name="x" type="xs:string"/>
    <xs:element name="y" type="xs:string"/></xs:sequence>
    <xs:attribute name="sku" type="xs:string"/>""",
    ).replace('name="gears" type="xs:int" use="required"',
              'name="gears" type="xs:int"')
    assert "<xs:sequence>" in xsd and 'use="required"' not in xsd
    c = compile_xsd(xsd)
    p = tmp_path / "m.xml"
    p.write_text(
        f'<catalog {XSI_NS_DECL}><product sku="a"/><widget gears="1"/>'
        '<product xsi:type="WidgetType" gears="2"/></catalog>'
    )
    assert _triples(validate_xml_instance(spark, str(p), c)) == Counter([
        ("product/x", "facet:x:Required", None),
        ("widget/x", "facet:x:Required", None),
        ("product@WidgetType/x", "facet:x:Required", None),
    ])


LAST_WINS_XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="collection"><xs:complexType><xs:sequence>
    <xs:element name="author" maxOccurs="unbounded">
      <xs:complexType>
        <xs:attribute name="dn" type="xs:string" use="required"/>
      </xs:complexType>
      <xs:key name="author_dn">
        <xs:selector xpath="."/><xs:field xpath="@dn"/>
      </xs:key>
    </xs:element>
    <xs:element name="object" maxOccurs="unbounded">
      <xs:complexType>
        <xs:attribute name="author" type="xs:string"/>
      </xs:complexType>
    </xs:element>
  </xs:sequence></xs:complexType>
  <xs:keyref name="object_author" refer="author_dn">
    <xs:selector xpath="object"/><xs:field xpath="@author"/>
  </xs:keyref>
  </xs:element>
</xs:schema>"""


def test_cross_table_keyref_to_single_element_key(spark, tmp_path):
    """collection3bis shape: the key sits ON the author element (selector
    '.'), so each author is its own scope and the key propagates upward
    last-sibling-override — only the LAST author per document is visible
    to the cross-table keyref.  Duplicate sibling keys are legal."""
    c = compile_xsd(LAST_WINS_XSD)
    (ext,) = c.external_keyrefs
    assert (ext.table, ext.key_table, ext.last_wins) == (
        "object", "author", True)
    p = tmp_path / "last.xml"
    p.write_text(
        '<collection><author dn="JM"/><author dn="PAR"/><author dn="JM"/>'
        '<object author="PAR"/><object author="JM"/><object author="ZZ"/>'
        "</collection>"
    )
    assert _triples(validate_xml_instance(spark, str(p), c)) == Counter([
        # 'PAR' was overridden by the later 'JM'; 'ZZ' was never a key
        ("object", "keyref:object_author", "PAR"),
        ("object", "keyref:object_author", "ZZ"),
    ])


def test_shop_row_types_in_reference_order():
    """Each table's row types: its declared type first (whose spec is the
    table's), then the types an xsi:type may name, the xs:alternative arms
    (XSD 1.1 only) and the substitution members."""
    declared = {"rec": "Base", "product": "ProductType", "gauge": "Gauge",
                "shop": None}
    overlays = {
        "rec": [("xsi", "Derived")],
        "product": [("xsi", "WidgetType"), ("member", "widget")],
        "gauge": [("xsi", "GaugeA")],
        "shop": [],
    }
    for version, extra in (("1.0", []), ("1.1", [("alt", "GaugeA")])):
        c = compile_xsd(SHOP_XSD, version=version)
        assert {t: [(rt.kind, rt.name) for rt in rts]
                for t, rts in c.row_types.items()} == {
            t: [("declared", declared[t]), *overlays[t],
                *(extra if t == "gauge" else [])]
            for t in c.specs}
        for t, rts in c.row_types.items():
            assert rts[0].spec is c.specs[t]


def test_xml_instance_tables_mixed_row_sets(spark):
    """Decode of one document holding every row-set kind: the shop
    document row, a rec table with one xsi:type row, a product table
    with substitution members and a gauge table with an xs:alternative
    arm.  Rows read against an xsi:type, an alternative arm or a member's
    type are rows of their element's table, with its declared columns."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        xml_instance_tables,
    )

    c = compile_xsd(SHOP_XSD, version="1.1")
    assert c.doc_rows == frozenset({"shop"})
    tabs = xml_instance_tables(spark, SHOP_XML, c)
    assert sorted(tabs) == ["gauge", "product", "rec", "shop"]
    got = {
        name: sorted(
            tuple(r) for r in df.drop(c.specs[name].order_col).collect()
        )
        for name, df in tabs.items()
    }
    assert got == {
        "shop": [("Corner", "shop.xml")],
        "rec": [("1", "shop.xml"), ("2", "shop.xml")],
        "product": [
            ("p1", "shop.xml"), ("w1", "shop.xml"), ("w2", "shop.xml"),
        ],
        "gauge": [("A", "shop.xml"), ("B", "shop.xml")],
    }
    assert {n: df.columns for n, df in tabs.items()} == {
        "shop": ["title", "doc_id", "row_idx"],
        "rec": ["a", "doc_id", "row_idx"],
        "product": ["sku", "doc_id", "row_idx"],
        "gauge": ["mode", "doc_id", "row_idx"],
    }
    # (doc_id, row_idx) is a key of every table; the rows of one element
    # name keep document order, a member's rows follow the head's
    for name, df in tabs.items():
        keys = [r[1:] for r in df.collect()]
        assert len(set(keys)) == len(keys), (name, keys)
    assert {
        name: [r[0] for r in df.orderBy("row_idx").collect()]
        for name, df in tabs.items()
    } == {
        "shop": ["Corner"], "rec": ["1", "2"],
        "product": ["p1", "w1", "w2"], "gauge": ["A", "B"],
    }


def test_container_attribute_named_like_its_row_element(spark, tmp_path):
    """A container attribute with the row element's local name does not
    stand in for the row elements: they are read and checked."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        xml_instance_tables,
    )

    xsd = tmp_path / "clash.xsd"
    xsd.write_text(
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        '<xs:element name="doc"><xs:complexType><xs:sequence>'
        '<xs:element name="rec" maxOccurs="unbounded"><xs:complexType>'
        '<xs:attribute name="a" type="xs:int"/></xs:complexType></xs:element>'
        '</xs:sequence><xs:attribute name="rec" type="xs:string"/>'
        "</xs:complexType></xs:element></xs:schema>"
    )
    doc = tmp_path / "clash.xml"
    doc.write_text('<doc rec="x"><rec a="1"/><rec a="z"/></doc>')
    c = compile_xsd(str(xsd))
    got = [(r.path, r.constraint_id, r.offending_value)
           for r in validate_xml_instance(spark, str(doc), c).collect()]
    assert got == [("rec/a", "facet:a:BuiltinLexical", "z")]
    rec = xml_instance_tables(spark, str(doc), c)["rec"]
    assert sorted(r.a for r in rec.collect()) == ["1", "z"]


def test_decode_builds_no_validation(spark, monkeypatch):
    """xml_instance_tables only decodes: the overlay rows of an xsi:type,
    an alternative arm and a substitution member are read, but no
    validation program is bound for them."""
    from sissaschool_xmlschema_spark.sources import xml_instance

    calls = []
    real = xml_instance.validate
    monkeypatch.setattr(
        xml_instance, "validate",
        lambda *a, **k: calls.append(a) or real(*a, **k),
    )
    c = compile_xsd(SHOP_XSD, version="1.1")
    xml_instance.xml_instance_tables(spark, SHOP_XML, c)
    assert calls == []
    # the validating entry point still binds the overlays' programs
    xml_instance.validate_xml_instance(spark, SHOP_XML, c)
    assert len(calls) > 0


def test_issue_190_nested_only_schema(spark):
    """A schema whose ONLY repeated elements sit below second-level
    singletons (root -> a/b -> choice*): the root still compiles (to a
    zero-column document table) and the repeated descendants validate
    through their nested tables — issue_190 validates clean."""
    B = corpus(f"{IB}/issue_190")
    c = compile_xsd(f"{B}/issue_190.xsd")
    assert "root" in c.specs
    assert {"c", "d", "e"} <= set(c.specs)
    assert count_errors(spark, f"{B}/issue_190.xml", c) == 0


def test_issue_314_xsi_type_on_nested_table(spark):
    """xsi:type on a NESTED table's rows, with the XSI namespace bound to
    a non-'xsi' prefix (b:type): the derived type's overlay supplies
    attr_2 and the b:type attribute is machinery, not undeclared content
    — issue_314 validates clean."""
    B = corpus(f"{IB}/issue_314")
    assert count_errors(spark, f"{B}/issue_314.xml",
                        f"{B}/issue_314.xsd") == 0


def test_malformed_schema_document_is_compile_error():
    """A non-well-formed .xsd raises XsdCompileError with the source
    named, not a raw ElementTree ParseError (resources/malformed.xsd)."""
    from sissaschool_xmlschema_spark.xsd_compile import XsdCompileError

    try:
        compile_xsd(corpus("resources/malformed.xsd"))
    except XsdCompileError as e:
        assert "not well-formed" in str(e)
    else:
        raise AssertionError("malformed schema compiled")


def test_binary_length_counts_octets(spark):
    """length facets on hexBinary/base64Binary count decoded OCTETS
    (decoder simple-types.xsd hexCode length=4 admits 'AABBCCDD'):
    data.xml validates clean, data2.xml keeps its pinned --errors=2."""
    B = corpus(f"{FB}/decoder")
    assert count_errors(spark, f"{B}/data.xml",
                        f"{B}/simple-types.xsd") == 0
    assert count_errors(spark, f"{B}/data2.xml",
                        f"{B}/simple-types.xsd") == 2


def test_declared_encoding_honored(spark):
    """A legal CP1252 document (examples/menù-cp1252) validates clean:
    schema read, prolog sniffers, and the Spark XML charset all honor the
    DECLARED encoding instead of assuming UTF-8."""
    d = corpus(MB)
    assert count_errors(spark, f"{d}/menù.xml", f"{d}/menù.xsd") == 0
    assert count_errors(
        spark, f"{d}/menù-cp1252.xml", f"{d}/menù-cp1252.xsd"
    ) == 0


def test_shop_document_violations(spark):
    """The shop document's full violation multiset under XSD 1.0 (the
    gauge alternative arm is 1.1-only, so its @level is undeclared).  The
    widget members standing in for product are declared content of the
    shop document row, not undeclared elements."""
    assert _triples(
        validate_xml_instance(spark, SHOP_XML, compile_xsd(SHOP_XSD))
    ) == Counter([
        ("rec@Derived/b", "facet:b:BuiltinLexical", "x"),
        ("shop/gauge", "structure:undeclared-attribute", "5"),
        ("widget/gears", "facet:gears:Required", None),
    ])
    assert _triples(validate_xml_instance(
        spark, SHOP_XML, compile_xsd(SHOP_XSD, version="1.1")
    )) == Counter([
        ("rec@Derived/b", "facet:b:BuiltinLexical", "x"),
        ("widget/gears", "facet:gears:Required", None),
    ])


def test_stray_text_flagged_once_per_container(spark, tmp_path):
    """Stray text inside <shop>, the container of four tables, is one
    char-data violation (the reference reports one error), on the
    document row that owns the container."""
    p = tmp_path / "shop-stray.xml"
    with open(SHOP_XML, encoding="utf-8") as f:
        p.write_text(f.read().replace("<title>", " stray <title>"))
    c = compile_xsd(SHOP_XSD, version="1.1")

    def char_data(violations) -> Counter:
        return Counter({
            k: n for k, n in _triples(violations).items()
            if k[1] == "structure:char-data"
        })

    assert char_data(validate_xml_instance(spark, str(p), c)) == Counter([
        ("shop/shop", "structure:char-data", "stray"),
    ])
    # validating one table alone still sees its container's stray text
    assert char_data(
        validate_xml_instance(spark, str(p), c, table="rec")
    ) == Counter([("shop/rec", "structure:char-data", "stray")])


def test_long_stray_text_is_truncated(spark, tmp_path):
    """A structural flag reports the engine's one violation row: stray text
    longer than 200 characters in element-only content is reported by its
    first 200 (exceptions.py:328-329), like every other offending value."""
    text = "stray-" + "0123456789" * 30
    p = tmp_path / "shop-long-stray.xml"
    with open(SHOP_XML, encoding="utf-8") as f:
        p.write_text(f.read().replace("<title>", f" {text} <title>"))
    got = [
        r.offending_value
        for r in validate_xml_instance(
            spark, str(p), compile_xsd(SHOP_XSD, version="1.1")
        ).collect()
        if r.constraint_id == "structure:char-data"
    ]
    assert got == [text[:200]]
