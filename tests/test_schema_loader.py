"""Schema-document graphs read by both the XSD compiler and the schema
checker: each fixture under ``tests/fixtures/schema_graph`` pins the
``compile_xsd`` result (or its ``XsdCompileError`` message) AND the
``validate_schema_document`` error codes, so the one loader behind both
keeps both readings.  Runs offline: no corpus, no Spark except the
CP1252 instance."""

import os

import pytest

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.xsd_compile import XsdCompileError, compile_xsd
from sissaschool_xmlschema_spark.xsd_meta import validate_schema_document

FX = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                  "schema_graph")
XS = 'xmlns:xs="http://www.w3.org/2001/XMLSchema"'
CUT = ("(cycle cut: subtree is schema-declared, validated one level deep)")


def fx(name: str) -> str:
    return os.path.join(FX, name)


def codes(source, version="1.0", base_dir=None) -> list:
    return [
        (e.location, e.code)
        for e in validate_schema_document(source, version=version,
                                          base_dir=base_dir)
    ]


def columns(compiled, table) -> dict:
    return {c.name: c.facets for c in compiled.specs[table].columns}


def row_schema(attrs: str, extra: str = "", head: str = "") -> str:
    return (
        f"<xs:schema {XS}{head}>{extra}"
        '<xs:element name="doc"><xs:complexType><xs:sequence>'
        '<xs:element name="r" maxOccurs="unbounded"><xs:complexType>'
        f"{attrs}</xs:complexType></xs:element>"
        "</xs:sequence></xs:complexType></xs:element></xs:schema>"
    )


def test_chameleon_include_adopts_the_target_namespace():
    c = compile_xsd(fx("chameleon.xsd"))
    assert columns(c, "item") == {
        "code": (S.Required(), S.Pattern(("[A-Z]{3}",))),
    }
    assert c.target_namespace == "urn:shop"
    assert c.restrictions == ()
    # unprefixed ItemType/Code resolve only through the adopted namespace
    assert codes(fx("chameleon.xsd")) == []


def test_include_namespace_mismatch():
    c = compile_xsd(fx("mismatch.xsd"))
    assert sorted(c.specs) == ["row"] and c.restrictions == ()
    for v in ("1.0", "1.1"):
        assert codes(fx("mismatch.xsd"), v) == [
            ("mismatch-part.xsd", "include-namespace-mismatch"),
        ]


def test_import_before_include_first_definition_wins():
    """Each reference resolves in its own namespace: Code is the included
    no-namespace type, o:Code the imported urn:other one."""
    c = compile_xsd(fx("order.xsd"))
    assert columns(c, "row") == {
        "code": (S.Pattern(("[0-9]+",)),),
        "other": (S.Enumeration(("X", "Y")),),
    }
    # the checker resolves each reference in its own namespace: clean
    assert codes(fx("order.xsd")) == []


def test_redefine_read_by_compiler_and_checker():
    c = compile_xsd(fx("redefine.xsd"))
    assert columns(c, "row") == {
        "c": (S.Required(), S.Pattern(("[a-z]+",)), S.MaxLength(5)),
    }
    for v in ("1.0", "1.1"):
        assert codes(fx("redefine.xsd"), v) == []


def test_override_read_by_compiler_and_checker():
    c = compile_xsd(fx("override.xsd"), version="1.1")
    assert columns(c, "row") == {
        "c": (S.Required(), S.Enumeration(("ok", "no"))),
    }
    assert codes(fx("override.xsd"), "1.0") == [
        ("override.xsd", "xsd11-only"),
    ]
    assert codes(fx("override.xsd"), "1.1") == []


def test_malformed_included_document():
    with pytest.raises(XsdCompileError) as err:
        compile_xsd(fx("malformed.xsd"))
    assert str(err.value) == (
        f"{fx('malformed-part.xsd')}: not well-formed XML "
        "(mismatched tag: line 4, column 2)"
    )
    assert codes(fx("malformed.xsd")) == [
        ("malformed-part.xsd", "not-well-formed"),
    ]


def test_included_document_that_is_not_a_schema():
    with pytest.raises(XsdCompileError) as err:
        compile_xsd(fx("notschema.xsd"))
    assert str(err.value) == (
        f"{fx('notschema-part.xsd')}: root element is 'notes', "
        "not xs:schema"
    )
    assert codes(fx("notschema.xsd")) == [
        ("notschema-part.xsd", "not-a-schema"),
    ]


STRING_REF = (
    f'<xs:schema {XS}><xs:include schemaLocation="string-part.xsd"/>'
    '<xs:element name="doc"><xs:complexType><xs:sequence>'
    '<xs:element ref="row" maxOccurs="unbounded"/>'
    "</xs:sequence></xs:complexType></xs:element></xs:schema>"
)


UNREFERENCED_INCLUDE = row_schema(
    '<xs:attribute name="n" type="xs:int"/>',
    extra='<xs:include schemaLocation="string-part.xsd"/>',
)


def test_string_source_include_with_and_without_base_dir():
    # without base_dir the include cannot be anchored: the referenced
    # global element never arrives
    with pytest.raises(XsdCompileError) as err:
        compile_xsd(STRING_REF)
    assert str(err.value) == (
        "<string>: unresolved-reference: ref='row' on xs:element does not "
        "resolve to a global element in namespace ''"
    )
    assert codes(STRING_REF) == [("<string>", "unresolved-reference")]
    c = compile_xsd(STRING_REF, base_dir=FX)
    assert columns(c, "row") == {
        "n": (S.Required(), S.BuiltinLexical("int"),
              S.IntRange(-2147483648, 2147483647)),
    }
    assert c.restrictions == ()
    assert codes(STRING_REF, base_dir=FX) == []
    # an include nothing references: compiled, its skip noted loudly
    c = compile_xsd(UNREFERENCED_INCLUDE)
    assert sorted(c.specs) == ["r"]
    assert c.restrictions == (
        "xs:include 'string-part.xsd': string source has no base "
        "directory (pass base_dir=) — skipped",
    )
    assert codes(UNREFERENCED_INCLUDE) == []


def test_duplicate_declaration_first_definition_wins():
    c = compile_xsd(fx("duplicate.xsd"))
    assert columns(c, "row") == {"a": ()}
    assert codes(fx("duplicate.xsd")) == [
        ("duplicate-part.xsd", "duplicate-declaration"),
    ]


MISSING_IMPORT = row_schema(
    '<xs:attribute name="c" type="o:Code"/>',
    extra='<xs:simpleType name="Code"><xs:restriction base="xs:string">'
          '<xs:length value="2"/></xs:restriction></xs:simpleType>',
    head=' xmlns:o="urn:other"',
)


def test_missing_import():
    with pytest.raises(XsdCompileError) as err:
        compile_xsd(MISSING_IMPORT)
    assert str(err.value) == (
        "<string>: missing-import: type='o:Code' references namespace "
        "'urn:other' which <string> does not import (loaders.py import "
        "rules)"
    )
    assert codes(MISSING_IMPORT) == [("<string>", "missing-import")]


UNRESOLVED = row_schema('<xs:attribute name="c" type="NoSuch"/>')


def test_unresolved_reference():
    with pytest.raises(XsdCompileError) as err:
        compile_xsd(UNRESOLVED)
    assert str(err.value) == (
        "<string>: unresolved-reference: type='NoSuch' on xs:attribute does "
        "not resolve to a global simpleType/complexType in namespace ''"
    )
    assert codes(UNRESOLVED) == [("<string>", "unresolved-reference")]


def test_self_recursive_type_is_cut_one_level_deep():
    """issue_437's shape: NodeList -> Node -> NodeList."""
    c = compile_xsd(fx("recursive-self.xsd"))
    assert sorted(c.specs) == ["tree"] and c.doc_rows == {"tree"}
    assert columns(c, "tree") == {"node_id": (),
                                  "node_label": (S.Required(),)}
    assert c.restrictions == (
        f"tree: recursive type re-entered at node/children {CUT}",
    )
    assert {t: rts[0].skipped for t, rts in c.row_types.items()} == {
        "tree": {("node", "children")}}
    assert codes(fx("recursive-self.xsd")) == []


def test_mutually_recursive_globals_keep_zero_column_tables():
    """import-case4's shape: rootA -> rootB -> rootA."""
    c = compile_xsd(fx("recursive-mutual.xsd"))
    assert c.doc_rows == {"rootA", "rootB"}
    assert columns(c, "rootA") == {} and columns(c, "rootB") == {}
    assert c.restrictions == (
        f"rootA: recursive type re-entered at rootB/rootA {CUT}",
        f"rootB: recursive type re-entered at rootA/rootB {CUT}",
    )
    assert {t: rts[0].skipped for t, rts in c.row_types.items()} == {
        "rootA": {("rootB",), ("rootB", "rootA")},
        "rootB": {("rootA",), ("rootA", "rootB")},
    }
    assert codes(fx("recursive-mutual.xsd")) == []


def test_cp1252_schema_and_instance(spark):
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )

    c = compile_xsd(fx("menu-cp1252.xsd"))
    assert columns(c, "dish") == {
        "price": (S.BuiltinLexical("decimal"),),
        "name": (S.Required(), S.Enumeration(("menù", "café"))),
    }
    assert codes(fx("menu-cp1252.xsd")) == []
    got = sorted(
        (r.path, r.constraint_id, r.offending_value)
        for r in validate_xml_instance(
            spark, fx("menu-cp1252.xml"), c
        ).collect()
    )
    # dish 3 alone is invalid: 'crème' is outside the enumeration and
    # 'x' is no decimal; 'menù' and 'café' must decode to match
    assert got == [
        ("dish/name", "facet:name:Enumeration", "crème"),
        ("dish/price", "facet:price:BuiltinLexical", "x"),
    ]


@pytest.mark.parametrize("name, cycle", [
    ("circular-group-self.xsd", "g -> g"),
    ("circular-group-pair.xsd", "g1 -> g2 -> g1"),
])
def test_circular_group_is_a_compile_error(name, cycle):
    """A named xs:group that reaches itself through group references
    alone is an XsdCompileError naming the cycle as the checker does (the
    pair's element enters the cycle at g2)."""
    with pytest.raises(XsdCompileError) as err:
        compile_xsd(fx(name))
    assert str(err.value) == f"circular xs:group reference: {cycle}"
    assert [(e.code, e.reason) for e in validate_schema_document(fx(name))] \
        == [("circular-group", str(err.value))]


GROUP_BELOW = (
    f"<xs:schema {XS}>"
    '<xs:element name="doc"><xs:complexType><xs:group ref="g"/>'
    "</xs:complexType></xs:element>"
    '<xs:group name="g"><xs:sequence>'
    '<xs:element name="a" type="xs:string"/>'
    '<xs:element name="item" minOccurs="0"><xs:complexType>'
    '<xs:group ref="g"/></xs:complexType></xs:element>'
    "</xs:sequence></xs:group></xs:schema>"
)


def test_group_reached_again_below_an_element_is_cut():
    """A group referenced again inside the content of an element it
    declares is recursion through that element: the type guard cuts it one
    level deep, as for recursive types."""
    c = compile_xsd(GROUP_BELOW)
    assert set(columns(c, "doc")) == {"a", "item_a"}
    assert c.restrictions == (
        f"doc: recursive type re-entered at item/item {CUT}",
    )
    # the schema checker follows model-group particles only, not the
    # content of an element the group declares
    assert codes(GROUP_BELOW) == []


def test_only_the_circular_fixtures_report_circular_group():
    """Of the schema-graph fixtures, the two circular groups and no other
    report ``circular-group``."""
    circular = {"circular-group-self.xsd", "circular-group-pair.xsd"}
    for name in sorted(os.listdir(FX)):
        if name.endswith(".xsd"):
            got = {code for _, code in codes(fx(name))}
            assert ("circular-group" in got) == (name in circular), name


def test_user_type_named_like_a_builtin():
    """A user type named string is the unprefixed string; xs:string stays
    the builtin, free of the user type's facets."""
    c = compile_xsd(fx("user-string.xsd"))
    assert columns(c, "row") == {
        "plain": (),
        "user": (S.WhiteSpace("collapse"), S.Length(2)),
    }
    assert codes(fx("user-string.xsd")) == []


def test_components_resolve_across_two_namespaces():
    """row refers to the urn:b element, group and attribute group, total
    to the no-namespace ones of the same local names."""
    c = compile_xsd(fx("crossns.xsd"))
    date = (S.Required(), S.BuiltinLexical("date"))
    assert columns(c, "row") == {
        "flag": (S.BooleanLexical(),), "note": date, "day": date,
    }
    assert columns(c, "total") == {
        "n": (S.BuiltinLexical("int"), S.IntRange(-2147483648, 2147483647)),
        "note": (S.Required(),),
        "count": (S.Required(), S.BuiltinLexical("int"),
                  S.IntRange(-2147483648, 2147483647)),
    }
    for v in ("1.0", "1.1"):
        assert codes(fx("crossns.xsd"), v) == []


ATTRIBUTE_REF = row_schema(
    '<xs:attribute ref="a" use="required"/>',
    extra='<xs:attribute name="a" type="xs:int" fixed="7"/>',
)


def test_attribute_ref_takes_the_global_declaration(spark, tmp_path):
    """``<xs:attribute ref="a"/>`` takes the global declaration's type and
    fixed value; ``use`` stays the ref site's."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )

    c = compile_xsd(ATTRIBUTE_REF)
    assert columns(c, "r") == {
        "a": (S.Required(), S.FixedValue("7"), S.BuiltinLexical("int"),
              S.IntRange(-2147483648, 2147483647)),
    }
    assert codes(ATTRIBUTE_REF) == []
    doc = tmp_path / "attr-ref.xml"
    doc.write_text('<doc><r a="x"/><r a="7"/></doc>')
    got = sorted(
        (r.path, r.constraint_id, r.offending_value)
        for r in validate_xml_instance(spark, str(doc), c).collect()
    )
    assert ("r/a", "facet:a:BuiltinLexical", "x") in got, got
    assert ("r/a", "facet:a:FixedValue", "x") in got, got
    assert {v for _p, _c, v in got} == {"x"}


def test_xml_attribute_refs_resolve(spark, tmp_path):
    """``ref="xml:lang"`` (and xml:space, xml:base) names a predefined
    attribute of the always-bound xml prefix: both readers accept it and
    the column keeps the local name and the ref site's ``use``.  The
    attributes are typed as the reference's xml.xsd types them: lang is an
    xs:language or empty, space is default or preserve, base an
    xs:anyURI."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )

    src = fx("xml-attributes.xsd")
    assert codes(src) == []
    c = compile_xsd(src)
    assert columns(c, "note") == {
        "value": (),
        "lang": (S.Required(), S.UnionOf(alternatives=(
            (S.BuiltinLexical("language"),), (S.Enumeration(("",)),),
        ))),
        "space": (S.BuiltinLexical("NCName"),
                  S.Enumeration(("default", "preserve"))),
        "base": (),
    }
    doc = tmp_path / "notes.xml"
    doc.write_text('<doc><note xml:lang="en" xml:space="preserve">hi</note>'
                   '<note xml:lang="" xml:space="bogus">x</note>'
                   '<note xml:lang="e n">y</note>'
                   "<note>no lang</note></doc>")
    got = sorted((r.path, r.constraint_id, r.offending_value)
                 for r in validate_xml_instance(spark, str(doc), c).collect())
    assert got == [
        ("note/lang", "facet:lang:Required", None),
        ("note/lang", "facet:lang:UnionOf", "e n"),
        ("note/space", "facet:space:Enumeration", "bogus"),
    ], got


def test_xml_attribute_declaration_imported_wins(tmp_path):
    """A schema that imports its own declaration of an xml attribute
    compiles that declaration, not the predefined one; xml:id is an xs:ID,
    unique per document."""
    xml_xsd = (
        f'<xs:schema {XS} targetNamespace="http://www.w3.org/XML/1998/'
        'namespace"><xs:attribute name="space" type="xs:string"/>'
        "</xs:schema>"
    )
    src = row_schema(
        '<xs:attribute ref="xml:space"/><xs:attribute ref="xml:id"/>',
        extra='<xs:import namespace="http://www.w3.org/XML/1998/namespace"'
              ' schemaLocation="xml.xsd"/>',
    )
    (tmp_path / "xml.xsd").write_text(xml_xsd)
    c = compile_xsd(src, base_dir=str(tmp_path))
    assert columns(c, "r")["space"] == ()
    assert columns(c, "r")["id"] == (S.BuiltinLexical("ID"),)
    assert [u.name for u in c.specs["r"].identities] == ["id-id-unique"]


# a global complexType nothing uses, with an unresolved attribute type
UNUSED_TYPE = row_schema(
    '<xs:attribute name="n" type="xs:int"/>',
    extra='<xs:complexType name="Unused">'
          '<xs:attribute name="c" type="NoSuch"/></xs:complexType>',
)
# a global element whose substitution head does not exist
NO_HEAD = row_schema(
    '<xs:attribute name="n" type="xs:int"/>',
    extra='<xs:element name="m" type="xs:string" substitutionGroup="nohead"/>',
)
# the prefix zz is bound nowhere; a no-namespace Code exists
UNBOUND_PREFIX = row_schema(
    '<xs:attribute name="c" type="zz:Code"/>',
    extra='<xs:simpleType name="Code"><xs:restriction base="xs:string">'
          '<xs:length value="2"/></xs:restriction></xs:simpleType>',
)


@pytest.mark.parametrize("source", [
    pytest.param(UNUSED_TYPE, id="UNUSED_TYPE"),
    pytest.param(NO_HEAD, id="NO_HEAD"),
])
def test_references_outside_compiled_components_are_errors(source):
    """The compiler walks every reference the checker walks, not only
    those inside the components it compiles."""
    assert codes(source) == [("<string>", "unresolved-reference")]
    with pytest.raises(XsdCompileError, match="does not resolve"):
        compile_xsd(source)


def test_unbound_prefix_is_unresolved():
    """A QName whose prefix is bound nowhere names no namespace at all:
    it does not fall back to the no-namespace component."""
    (err,) = validate_schema_document(UNBOUND_PREFIX)
    assert err.code == "unresolved-reference"
    assert "prefix 'zz'" in err.reason
    with pytest.raises(XsdCompileError, match="unresolved"):
        compile_xsd(UNBOUND_PREFIX)

# the xml namespace predefines attributes only: no attribute group
XML_GROUP = row_schema('<xs:attributeGroup ref="xml:specialAttrs"/>')

REFERENCE_CODES = {"unresolved-reference", "missing-import"}


@pytest.mark.parametrize("source", [
    pytest.param(fx(name), id=name)
    for name in sorted(os.listdir(FX)) if name.endswith(".xsd")
] + [
    pytest.param(src, id=name) for name, src in (
        ("STRING_REF", STRING_REF),
        ("UNREFERENCED_INCLUDE", UNREFERENCED_INCLUDE),
        ("MISSING_IMPORT", MISSING_IMPORT),
        ("UNRESOLVED", UNRESOLVED),
        ("GROUP_BELOW", GROUP_BELOW),
        ("ATTRIBUTE_REF", ATTRIBUTE_REF),
        ("UNUSED_TYPE", UNUSED_TYPE),
        ("NO_HEAD", NO_HEAD),
        ("UNBOUND_PREFIX", UNBOUND_PREFIX),
        ("XML_GROUP", XML_GROUP),
    )
])
def test_compiler_and_checker_agree_on_references(source):
    """``compile_xsd`` raises a reference error exactly when the checker
    reports an unresolved reference or a missing import."""
    reported = bool(REFERENCE_CODES & {code for _, code in codes(source)})
    try:
        compile_xsd(source)
        raised = False
    except XsdCompileError as err:
        raised = "unresolved" in str(err) or "does not import" in str(err)
    assert raised == reported


PARTICLES = {
    "element": '<xs:sequence><xs:element name="e" type="xs:string" {}/>'
               "</xs:sequence>",
    "sequence": '<xs:sequence {}><xs:element name="e" type="xs:string"/>'
                "</xs:sequence>",
    # the flat subset reads no occurrence bound of a wildcard
    "any": "<xs:sequence><xs:any {}/></xs:sequence>",
}
FACET_BASES = {"length": "string", "minLength": "string",
               "maxLength": "string", "totalDigits": "decimal",
               "fractionDigits": "decimal"}


@pytest.mark.parametrize("content, code, message", [
    pytest.param(
        PARTICLES[tag].format(f'{attr}="x"'), "illegal-occurs",
        None if tag == "any" else f"{attr}='x' on xs:{tag} is not an integer",
        id=f"{tag}-{attr}",
    )
    for tag in PARTICLES for attr in ("minOccurs", "maxOccurs")
] + [
    pytest.param(
        f'<xs:attribute name="a"><xs:simpleType><xs:restriction '
        f'base="xs:{base}"><xs:{facet} value="abc"/></xs:restriction>'
        "</xs:simpleType></xs:attribute>",
        "illegal-facet-value", f"value='abc' on xs:{facet} is not an integer",
        id=facet,
    )
    for facet, base in FACET_BASES.items()
])
def test_malformed_number(content, code, message):
    """A malformed occurrence bound or integer facet value is an
    XsdCompileError naming the attribute wherever the compiler reads it,
    and a checker error, never a raw ValueError."""
    src = row_schema(content)
    for v in ("1.0", "1.1"):
        assert code in {c for _, c in codes(src, v)}
        if message is None:
            compile_xsd(src, version=v)
        else:
            with pytest.raises(XsdCompileError) as err:
                compile_xsd(src, version=v)
            assert str(err.value) == message
