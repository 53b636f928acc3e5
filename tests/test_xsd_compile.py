"""Unit coverage for the XSD front door (xsd_compile.compile_xsd) — the
engine's ``XMLSchema('schema.xsd')`` analogue (schemas.py:149, loaders.py
:84-167), restricted to the flat-table subset."""

import pytest

from conftest import corpus
from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.plans.runner import validate
from sissaschool_xmlschema_spark.spec_io import spec_from_dict, spec_to_dict
from sissaschool_xmlschema_spark.xsd_compile import (
    XsdCompileError,
    compile_xsd,
    xsd_to_spec,
)

XS = 'xmlns:xs="http://www.w3.org/2001/XMLSchema"'


def wrap(body: str) -> str:
    return f'<?xml version="1.0"?><xs:schema {XS}>{body}</xs:schema>'


ROW_SCHEMA = wrap("""
  <xs:simpleType name="grade">
    <xs:restriction base="xs:string">
      <xs:enumeration value="A"/><xs:enumeration value="B"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:simpleType name="codeBase">
    <xs:restriction base="xs:token">
      <xs:pattern value="[a-z]+"/><xs:pattern value="[0-9]+"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:simpleType name="code">
    <xs:restriction base="codeBase">
      <xs:minLength value="2"/>
      <xs:pattern value=".{2,8}"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:element name="doc">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="row" maxOccurs="unbounded" minOccurs="2">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="grade" type="grade"/>
              <xs:element name="code" type="code" minOccurs="0"/>
              <xs:element name="score">
                <xs:simpleType>
                  <xs:restriction base="xs:int">
                    <xs:minInclusive value="0"/>
                    <xs:maxExclusive value="100"/>
                  </xs:restriction>
                </xs:simpleType>
              </xs:element>
              <xs:choice>
                <xs:element name="note" type="xs:string"/>
                <xs:element name="flag" type="xs:boolean"/>
              </xs:choice>
            </xs:sequence>
            <xs:attribute name="rid" type="xs:ID" use="required"/>
            <xs:attribute name="kind" type="xs:NCName" fixed="std"/>
            <xs:attribute name="legacy" type="xs:string" use="prohibited"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
    </xs:complexType>
    <xs:unique name="grade-code-unique">
      <xs:selector xpath="./row"/>
      <xs:field xpath="@rid"/><xs:field xpath="code"/>
    </xs:unique>
  </xs:element>
""")


@pytest.fixture(scope="module")
def row_spec():
    return xsd_to_spec(ROW_SCHEMA)


def test_columns_and_facets(row_spec):
    cols = {c.name: c for c in row_spec.columns}
    assert set(cols) == {"rid", "kind", "legacy", "grade", "code", "score",
                         "note", "flag"}
    # attribute use=required / fixed / prohibited (attributes.py:663-709)
    assert any(isinstance(f, S.Required) for f in cols["rid"].facets)
    assert any(
        isinstance(f, S.FixedValue) and f.value == "std"
        for f in cols["kind"].facets
    )
    assert any(isinstance(f, S.Prohibited) for f in cols["legacy"].facets)
    # enumeration through a named simpleType
    assert any(
        isinstance(f, S.Enumeration) and tuple(f.values) == ("A", "B")
        for f in cols["grade"].facets
    )
    # minOccurs=1 child → Required; minOccurs=0 → not
    assert any(isinstance(f, S.Required) for f in cols["grade"].facets)
    assert not any(isinstance(f, S.Required) for f in cols["code"].facets)
    # choice members are never Required (either branch may be absent)
    assert not any(isinstance(f, S.Required) for f in cols["note"].facets)
    assert not any(isinstance(f, S.Required) for f in cols["flag"].facets)


def test_pattern_steps_and_inheritance(row_spec):
    """Patterns OR within one restriction step and AND across derivation
    steps (facets.py:798-804): code inherits token's whiteSpace, codeBase's
    ([a-z]+|[0-9]+) step, and adds its own .{2,8} step + minLength."""
    code = next(c for c in row_spec.columns if c.name == "code")
    patterns = [f for f in code.facets if isinstance(f, S.Pattern)]
    assert len(patterns) == 2  # one per derivation step — they AND
    assert tuple(patterns[0].patterns) == ("[a-z]+", "[0-9]+")  # step ORs
    assert tuple(patterns[1].patterns) == (".{2,8}",)
    assert any(isinstance(f, S.WhiteSpace) and f.value == "collapse"
               for f in code.facets)
    assert any(isinstance(f, S.MinLength) and f.value == 2
               for f in code.facets)


def test_int_restriction_bounds(row_spec):
    score = next(c for c in row_spec.columns if c.name == "score")
    assert any(isinstance(f, S.MinInclusive) and f.value == 0
               for f in score.facets)
    assert any(isinstance(f, S.MaxExclusive) and f.value == 100
               for f in score.facets)
    # base xs:int contributes its lexical + width assertion
    assert any(isinstance(f, S.BuiltinLexical) and f.type_name == "int"
               for f in score.facets)


def test_identities_and_occurs(row_spec):
    uniques = [i for i in row_spec.identities if isinstance(i, S.Unique)]
    named = {u.name: u for u in uniques}
    # multi-field unique with ./ selector and @attr + child fields
    assert named["grade-code-unique"].fields == ("rid", "code")
    # xs:ID attribute → per-document uniqueness
    assert named["rid-id-unique"].fields == ("rid",)
    occ = [m for m in row_spec.model if isinstance(m, S.Occurs)]
    assert occ and occ[0].min_occurs == 2  # row minOccurs="2"


def test_end_to_end_validation(spark, row_spec):
    df = spark.createDataFrame(
        [
            ("d0", "0", "r1", "std", None, "A", "ab", "50", "hi", None),
            # duplicate rid within the doc + enum violation + score range
            ("d0", "1", "r1", "std", None, "C", "abc", "100", None, "true"),
            # pattern violation (mixed alnum fails both step-1 branches)
            ("d0", "2", "r3", "std", None, "B", "a1", "5", "x", None),
        ],
        "doc_id string, row_idx string, rid string, kind string, "
        "legacy string, grade string, code string, score string, "
        "note string, flag string",
    )
    v = validate(df, row_spec).violations
    by_id = {
        r["constraint_id"]: r["n"]
        for r in v.groupBy("constraint_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert by_id.get("unique:rid-id-unique") == 1
    assert by_id.get("facet:grade:Enumeration") == 1
    assert by_id.get("facet:score:MaxExclusive") == 1
    assert by_id.get("facet:code:Pattern") == 1


def test_lexical_false_drops_regex_keeps_values(spark):
    sp = xsd_to_spec(ROW_SCHEMA, lexical=False)
    score = next(c for c in sp.columns if c.name == "score")
    assert not any(isinstance(f, S.BuiltinLexical) for f in score.facets)
    assert any(isinstance(f, S.MinInclusive) for f in score.facets)


def test_descendant_selector_and_prefixes():
    schema = wrap("""
      <xs:element name="root">
        <xs:complexType><xs:sequence>
          <xs:element name="item" maxOccurs="unbounded">
            <xs:complexType>
              <xs:sequence><xs:element name="sku" type="xs:string"/></xs:sequence>
            </xs:complexType>
          </xs:element>
        </xs:sequence></xs:complexType>
        <xs:key name="sku-key">
          <xs:selector xpath=".//p:item"/>
          <xs:field xpath="p:sku"/>
        </xs:key>
      </xs:element>
    """)
    sp = xsd_to_spec(schema)
    keys = [i for i in sp.identities if isinstance(i, S.Key)]
    assert keys and keys[0].fields == ("sku",)


def test_list_and_union_types():
    schema = wrap("""
      <xs:simpleType name="sizes">
        <xs:list itemType="xs:positiveInteger"/>
      </xs:simpleType>
      <xs:simpleType name="intOrWord">
        <xs:union memberTypes="xs:integer">
          <xs:simpleType>
            <xs:restriction base="xs:string"><xs:pattern value="[a-z]+"/>
            </xs:restriction>
          </xs:simpleType>
        </xs:union>
      </xs:simpleType>
      <xs:element name="root">
        <xs:complexType><xs:sequence>
          <xs:element name="r" maxOccurs="unbounded">
            <xs:complexType>
              <xs:sequence>
                <xs:element name="sizes" type="sizes"/>
                <xs:element name="v" type="intOrWord"/>
              </xs:sequence>
            </xs:complexType>
          </xs:element>
        </xs:sequence></xs:complexType>
      </xs:element>
    """)
    sp = xsd_to_spec(schema)
    cols = {c.name: c for c in sp.columns}
    lst = next(f for f in cols["sizes"].facets if isinstance(f, S.ListOf))
    assert any(isinstance(f, S.BuiltinLexical) for f in lst.item_facets)
    uni = next(f for f in cols["v"].facets if isinstance(f, S.UnionOf))
    assert len(uni.alternatives) == 2


def test_assertion_and_explicit_timezone():
    schema = wrap("""
      <xs:element name="root">
        <xs:complexType><xs:sequence>
          <xs:element name="r" maxOccurs="unbounded">
            <xs:complexType><xs:sequence>
              <xs:element name="stamp">
                <xs:simpleType>
                  <xs:restriction base="xs:dateTime">
                    <xs:explicitTimezone value="required"/>
                  </xs:restriction>
                </xs:simpleType>
              </xs:element>
              <xs:element name="even">
                <xs:simpleType>
                  <xs:restriction base="xs:integer">
                    <xs:assertion test="$value mod 2 = 0"/>
                  </xs:restriction>
                </xs:simpleType>
              </xs:element>
            </xs:sequence></xs:complexType>
          </xs:element>
        </xs:sequence></xs:complexType>
      </xs:element>
    """)
    sp = xsd_to_spec(schema)
    cols = {c.name: c for c in sp.columns}
    assert any(isinstance(f, S.ExplicitTimezone) and f.value == "required"
               for f in cols["stamp"].facets)
    assert any(isinstance(f, S.Assertion) and "mod 2" in f.expr
               for f in cols["even"].facets)


def test_errors_are_loud():
    # a lone global SIMPLE element is now a document-value table
    # (issue_223's shape) — "no row element" needs a truly empty schema
    c = compile_xsd(wrap('<xs:element name="only" type="xs:string"/>'))
    assert sorted(c.specs) == ["only"]
    assert "only" in c.doc_rows
    with pytest.raises(XsdCompileError, match="no row element"):
        compile_xsd(wrap('<xs:simpleType name="t">'
                         '<xs:restriction base="xs:string"/>'
                         "</xs:simpleType>"))
    with pytest.raises(XsdCompileError,
                       match="type='noSuchType' on xs:element does not "
                             "resolve"):
        compile_xsd(wrap("""
          <xs:element name="root"><xs:complexType><xs:sequence>
            <xs:element name="r" maxOccurs="unbounded">
              <xs:complexType><xs:sequence>
                <xs:element name="x" type="noSuchType"/>
              </xs:sequence></xs:complexType>
            </xs:element>
          </xs:sequence></xs:complexType></xs:element>
        """))
    with pytest.raises(XsdCompileError, match="not found"):
        compile_xsd(ROW_SCHEMA, row_elements=["nope"])


def test_builtin_lexical_spec_io_roundtrip(row_spec):
    back = spec_from_dict(spec_to_dict(row_spec))
    assert back == row_spec


VEHICLES_DIR = "examples/vehicles"


def test_include_chain_with_cycle():
    """vehicles.xsd -> cars.xsd/bikes.xsd -> types.xsd -> cars.xsd (cycle):
    the include graph resolves file-relative, cuts the cycle, and both row
    elements compile with the shared vehicleType attributes
    (loaders.py:84-117 location-driven loading, filesystem subset)."""
    c = compile_xsd(corpus(f"{VEHICLES_DIR}/vehicles.xsd"))
    assert sorted(c.specs) == ["bike", "car"]
    for name in ("car", "bike"):
        assert [col.name for col in c.specs[name].columns] == ["make", "model"]
    assert c.restrictions == ()


def test_include_compiled_spec_validates(spark):
    from sissaschool_xmlschema_spark.plans.runner import validate

    sp = compile_xsd(corpus(f"{VEHICLES_DIR}/vehicles.xsd")).spec("car")
    df = spark.createDataFrame(
        [(1, 0, "Porsche", "911"), (1, 1, None, None)],
        "doc_id long, row_idx int, make string, model string",
    )
    # make/model are optional xs:string attributes — nothing to violate
    assert validate(df, sp).violations.count() == 0


def test_unresolvable_include_is_loud_not_silent(tmp_path):
    p = tmp_path / "s.xsd"
    p.write_text(wrap(
        '<xs:include schemaLocation="gone.xsd"/>'
        '<xs:element name="doc"><xs:complexType><xs:sequence>'
        '<xs:element name="r" maxOccurs="unbounded">'
        '<xs:complexType><xs:sequence>'
        '<xs:element name="x" type="xs:string"/>'
        '</xs:sequence></xs:complexType></xs:element>'
        '</xs:sequence></xs:complexType></xs:element>'
    ).replace("<?xml version=\"1.0\"?>", ""))
    c = compile_xsd(str(p))
    assert any("gone.xsd" in r and "not found" in r for r in c.restrictions)
    assert sorted(c.specs) == ["r"]


def test_string_source_include_needs_base_dir():
    src = wrap('<xs:include schemaLocation="cars.xsd"/>'
               '<xs:element name="vehicles"><xs:complexType><xs:sequence>'
               '<xs:element ref="cars"/>'
               '</xs:sequence></xs:complexType></xs:element>')
    # without base_dir: the include is recorded and compile fails loudly
    # (the ref'd global element never arrives)
    with pytest.raises(XsdCompileError,
                       match="ref='cars' on xs:element does not resolve"):
        compile_xsd(src)
    # with base_dir anchoring the relative location, the include resolves
    c = compile_xsd(src, base_dir=corpus(VEHICLES_DIR))
    assert "car" in c.specs


def test_named_groups_and_attribute_groups():
    """xs:group / xs:attributeGroup refs inline the named definitions
    (reference groups.py XsdGroup, attributes.py XsdAttributeGroup)."""
    src = wrap("""
      <xs:attributeGroup name="ids">
        <xs:attribute name="id" type="xs:ID" use="required"/>
        <xs:attribute name="rev" type="xs:int"/>
      </xs:attributeGroup>
      <xs:group name="body">
        <xs:sequence>
          <xs:element name="title" type="xs:string"/>
          <xs:element name="score" type="xs:int" minOccurs="0"/>
        </xs:sequence>
      </xs:group>
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="row" maxOccurs="unbounded">
          <xs:complexType>
            <xs:sequence>
              <xs:group ref="body"/>
              <xs:element name="tail" type="xs:string" minOccurs="0"/>
            </xs:sequence>
            <xs:attributeGroup ref="ids"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType></xs:element>
    """)
    c = compile_xsd(src)
    sp = c.spec("row")
    names = [col.name for col in sp.columns]
    assert set(names) >= {"id", "rev", "title", "score", "tail"}
    by = {col.name: col for col in sp.columns}
    assert any(isinstance(f, S.Required) for f in by["id"].facets)
    assert any(isinstance(f, S.Required) for f in by["title"].facets)
    assert not any(isinstance(f, S.Required) for f in by["score"].facets)
    # xs:ID in the group still yields the per-document Unique
    assert any(u.name == "id-id-unique" for u in sp.identities)
    # paths recorded for the instance reader
    paths = c.row_types["row"][0].column_paths
    assert paths["id"] == ("@id",)
    assert paths["title"] == ("title",)


def test_unresolved_group_ref_is_loud():
    src = wrap("""
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="row" maxOccurs="unbounded">
          <xs:complexType><xs:sequence>
            <xs:group ref="nope"/>
            <xs:element name="x" type="xs:string"/>
          </xs:sequence></xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType></xs:element>
    """)
    with pytest.raises(XsdCompileError,
                       match="ref='nope' on xs:group does not resolve"):
        compile_xsd(src)


def _write_base_schema(tmp_path):
    (tmp_path / "base.xsd").write_text(wrap("""
      <xs:simpleType name="code">
        <xs:restriction base="xs:string">
          <xs:pattern value="[a-z]+"/>
        </xs:restriction>
      </xs:simpleType>
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="row" maxOccurs="unbounded">
          <xs:complexType><xs:sequence>
            <xs:element name="c" type="code"/>
          </xs:sequence></xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType></xs:element>
    """))


def test_redefine_self_referential_simple_type(tmp_path):
    """xs:redefine's canonical pattern — the redefinition derives from the
    ORIGINAL same-named type (loaders.py redefine handling): facets of both
    derivation steps apply (patterns AND across steps)."""
    _write_base_schema(tmp_path)
    (tmp_path / "main.xsd").write_text(wrap("""
      <xs:redefine schemaLocation="base.xsd">
        <xs:simpleType name="code">
          <xs:restriction base="code">
            <xs:maxLength value="5"/>
          </xs:restriction>
        </xs:simpleType>
      </xs:redefine>
    """))
    sp = xsd_to_spec(str(tmp_path / "main.xsd"))
    c = next(col for col in sp.columns if col.name == "c")
    # original step's pattern survives AND the redefine adds maxLength
    assert any(isinstance(f, S.Pattern) and tuple(f.patterns) == ("[a-z]+",)
               for f in c.facets)
    assert any(isinstance(f, S.MaxLength) and f.value == 5 for f in c.facets)


def test_override_replaces_outright(tmp_path):
    """xs:override children REPLACE the originals (no self-derivation):
    the overridden type's pattern is gone, the new enumeration applies."""
    _write_base_schema(tmp_path)
    (tmp_path / "main.xsd").write_text(wrap("""
      <xs:override schemaLocation="base.xsd">
        <xs:simpleType name="code">
          <xs:restriction base="xs:string">
            <xs:enumeration value="ok"/><xs:enumeration value="no"/>
          </xs:restriction>
        </xs:simpleType>
      </xs:override>
    """))
    sp = xsd_to_spec(str(tmp_path / "main.xsd"))
    c = next(col for col in sp.columns if col.name == "c")
    assert not any(isinstance(f, S.Pattern) for f in c.facets)
    assert any(isinstance(f, S.Enumeration) and set(f.values) == {"ok", "no"}
               for f in c.facets)


def test_redefine_missing_original_is_loud(tmp_path):
    (tmp_path / "other.xsd").write_text(wrap(
        '<xs:simpleType name="unrelated">'
        '<xs:restriction base="xs:string"/></xs:simpleType>'))
    (tmp_path / "main.xsd").write_text(wrap("""
      <xs:redefine schemaLocation="other.xsd">
        <xs:simpleType name="code">
          <xs:restriction base="code"><xs:maxLength value="5"/></xs:restriction>
        </xs:simpleType>
      </xs:redefine>
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="row" maxOccurs="unbounded">
          <xs:complexType><xs:sequence>
            <xs:element name="c" type="code"/>
          </xs:sequence></xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType></xs:element>
    """))
    with pytest.raises(XsdCompileError, match="self-referential"):
        compile_xsd(str(tmp_path / "main.xsd"))


def test_complex_content_extension():
    """complexContent extension = base content + attributes followed by the
    derived additions (complex_types.py derivation)."""
    src = wrap("""
      <xs:complexType name="baseType">
        <xs:sequence>
          <xs:element name="name" type="xs:string"/>
        </xs:sequence>
        <xs:attribute name="id" type="xs:ID" use="required"/>
      </xs:complexType>
      <xs:complexType name="extType">
        <xs:complexContent>
          <xs:extension base="baseType">
            <xs:sequence>
              <xs:element name="score" type="xs:int" minOccurs="0"/>
            </xs:sequence>
            <xs:attribute name="lang" type="xs:language"/>
          </xs:extension>
        </xs:complexContent>
      </xs:complexType>
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="row" type="extType" maxOccurs="unbounded"/>
      </xs:sequence></xs:complexType></xs:element>
    """)
    c = compile_xsd(src)
    sp = c.spec("row")
    names = [col.name for col in sp.columns]
    assert set(names) == {"id", "name", "score", "lang"}
    by = {col.name: col for col in sp.columns}
    assert any(isinstance(f, S.Required) for f in by["id"].facets)
    assert any(u.name == "id-id-unique" for u in sp.identities)
    assert c.row_types["row"][0].column_paths["score"] == ("score",)


def test_complex_content_restriction_derived_wins():
    """Restriction: content comes from the restricted node; redeclared
    attributes override the base's declaration (use tightened)."""
    src = wrap("""
      <xs:complexType name="baseType">
        <xs:sequence>
          <xs:element name="a" type="xs:string"/>
          <xs:element name="b" type="xs:string" minOccurs="0"/>
        </xs:sequence>
        <xs:attribute name="k" type="xs:string"/>
      </xs:complexType>
      <xs:complexType name="narrowType">
        <xs:complexContent>
          <xs:restriction base="baseType">
            <xs:sequence>
              <xs:element name="a" type="xs:string"/>
            </xs:sequence>
            <xs:attribute name="k" type="xs:string" use="required"/>
          </xs:restriction>
        </xs:complexContent>
      </xs:complexType>
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="row" type="narrowType" maxOccurs="unbounded"/>
      </xs:sequence></xs:complexType></xs:element>
    """)
    sp = compile_xsd(src).spec("row")
    by = {col.name: col for col in sp.columns}
    # restriction dropped 'b' from content; 'k' became required
    assert set(by) == {"k", "a"}
    assert any(isinstance(f, S.Required) for f in by["k"].facets)
    assert [c for c in sp.columns].count(by["k"]) == 1  # deduped


def test_simple_content_extension_flattens():
    """Nested simpleContent extension: element text -> its own column with
    the base type's facets; attributes -> <elem>_<attr> columns."""
    src = wrap("""
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="row" maxOccurs="unbounded">
          <xs:complexType><xs:sequence>
            <xs:element name="price">
              <xs:complexType><xs:simpleContent>
                <xs:extension base="xs:decimal">
                  <xs:attribute name="currency" type="xs:string"
                                use="required"/>
                </xs:extension>
              </xs:simpleContent></xs:complexType>
            </xs:element>
          </xs:sequence></xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType></xs:element>
    """)
    c = compile_xsd(src)
    sp = c.spec("row")
    by = {col.name: col for col in sp.columns}
    assert set(by) == {"price", "price_currency"}
    assert any(isinstance(f, S.BuiltinLexical) and f.type_name == "decimal"
               for f in by["price"].facets)
    assert any(isinstance(f, S.Required) for f in by["price_currency"].facets)
    paths = c.row_types["row"][0].column_paths
    assert paths["price"] == ("price",)
    assert paths["price_currency"] == ("price", "@currency")


def test_simple_content_restriction_compiles():
    """simpleContent RESTRICTION narrows the text column (issue_013's
    shape): base facets first, the restriction step's facets appended."""
    src = wrap("""
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="row" maxOccurs="unbounded">
          <xs:complexType><xs:sequence>
            <xs:element name="x">
              <xs:complexType><xs:simpleContent>
                <xs:restriction base="xs:string">
                  <xs:maxLength value="3"/>
                </xs:restriction>
              </xs:simpleContent></xs:complexType>
            </xs:element>
          </xs:sequence></xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType></xs:element>
    """)
    c = compile_xsd(src)
    assert not any("simpleContent" in r for r in c.restrictions)
    by = {col.name: col for col in c.spec("row").columns}
    assert any(
        isinstance(f, S.MaxLength) and f.value == 3 for f in by["x"].facets
    )


def test_simple_content_restriction_of_complex_base():
    """issue_013-1.xsd: restriction of a complexType base keeps the base's
    attribute declarations and narrows the text."""
    c = compile_xsd(corpus("issues/issue_013/issue_013.xsd"))
    sp = c.spec("LegalType")
    by = {col.name: col for col in sp.columns}
    assert set(by) == {"value", "_Id"}
    assert any(
        isinstance(f, S.MaxLength) and f.value == 30
        for f in by["value"].facets
    )
    assert any(isinstance(f, S.Required) for f in by["_Id"].facets)
    assert any(
        isinstance(f, S.MaxLength) and f.value == 10 for f in by["_Id"].facets
    )


def test_row_detection_through_complex_content():
    """A global element whose type DERIVES its content (complexContent
    extension) still exposes its repeated complex child as a row element."""
    src = wrap("""
      <xs:complexType name="listBase">
        <xs:sequence>
          <xs:element name="row" maxOccurs="unbounded">
            <xs:complexType><xs:sequence>
              <xs:element name="v" type="xs:string"/>
            </xs:sequence></xs:complexType>
          </xs:element>
        </xs:sequence>
      </xs:complexType>
      <xs:complexType name="listType">
        <xs:complexContent>
          <xs:extension base="listBase">
            <xs:attribute name="version" type="xs:string"/>
          </xs:extension>
        </xs:complexContent>
      </xs:complexType>
      <xs:element name="doc" type="listType"/>
    """)
    c = compile_xsd(src)
    assert "row" in c.specs
    assert c.parent_of["row"] == "doc"


def test_recursive_type_cycle_is_cut():
    """Mutually recursive element references (import-case4 shape) compile
    without RecursionError: the cycle is cut, recorded in restrictions AND
    skipped paths (no-silent-drop contract)."""
    src = wrap("""
      <xs:element name="a" type="aT"/>
      <xs:element name="b" type="bT"/>
      <xs:complexType name="aT"><xs:sequence>
        <xs:element ref="b" minOccurs="0"/>
      </xs:sequence></xs:complexType>
      <xs:complexType name="bT"><xs:sequence>
        <xs:element ref="a" minOccurs="0"/>
      </xs:sequence></xs:complexType>
    """)
    c = compile_xsd(src)
    assert any("cycle cut" in r for r in c.restrictions)
    assert any(rts[0].skipped for rts in c.row_types.values())


def test_alternative_arm_outside_subset_is_loud():
    """An xs:alternative whose test is richer than @attr='v' records a
    restriction (never silently dropped) while supported arms compile."""
    src = wrap("""
      <xs:element name="root"><xs:complexType><xs:sequence>
        <xs:element ref="node" maxOccurs="unbounded"/>
      </xs:sequence></xs:complexType></xs:element>
      <xs:element name="node" type="baseT">
        <xs:alternative test="@kind='x'" type="xT"/>
        <xs:alternative test="count(@kind) > 0" type="yT"/>
      </xs:element>
      <xs:complexType name="baseT">
        <xs:attribute name="kind" type="xs:string"/>
      </xs:complexType>
      <xs:complexType name="xT"><xs:complexContent>
        <xs:extension base="baseT">
          <xs:attribute name="x" type="xs:string" use="required"/>
        </xs:extension>
      </xs:complexContent></xs:complexType>
      <xs:complexType name="yT"><xs:complexContent>
        <xs:extension base="baseT">
          <xs:attribute name="y" type="xs:string"/>
        </xs:extension>
      </xs:complexContent></xs:complexType>
    """)
    c = compile_xsd(src, version="1.1")
    arms = [rt for rt in c.row_types["node"] if rt.kind == "alt"]
    assert len(arms) == 1 and arms[0].attr == "kind" \
        and arms[0].value == "x"
    assert any("outside" in r and "alternative" in r for r in c.restrictions)


def test_builtin_range_is_intrange_facet():
    """Builtin integer widths compile to the Column-op IntRange facet (no
    SQL string — survives hyphenated names and ListOf item lambdas)."""
    src = wrap("""
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="r" maxOccurs="unbounded">
          <xs:complexType>
            <xs:attribute name="n" type="xs:byte"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType></xs:element>
    """)
    c = compile_xsd(src)
    facets = next(
        col.facets for col in c.specs["r"].columns if col.name == "n"
    )
    rng = [f for f in facets if isinstance(f, S.IntRange)]
    assert rng and rng[0].lo == -128 and rng[0].hi == 127


def test_list_length_counts_items():
    """length/minLength/maxLength restricting a LIST type fold into the
    ListOf item-count bounds, not character length (issue_311 'point')."""
    src = wrap("""
      <xs:simpleType name="pair">
        <xs:restriction>
          <xs:simpleType><xs:list itemType="xs:decimal"/></xs:simpleType>
          <xs:length value="2"/>
        </xs:restriction>
      </xs:simpleType>
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="r" maxOccurs="unbounded">
          <xs:complexType>
            <xs:attribute name="p" type="pair" use="required"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType></xs:element>
    """)
    c = compile_xsd(src)
    facets = next(
        col.facets for col in c.specs["r"].columns if col.name == "p"
    )
    assert not any(isinstance(f, S.Length) for f in facets)
    lof = [f for f in facets if isinstance(f, S.ListOf)]
    assert lof and lof[0].min_items == 2 and lof[0].max_items == 2


def test_nillable_emits_nil_column_and_conditional_required():
    """nillable='true' on a required singleton child: Required becomes
    conditional on the __nil column; a Nillable facet + the nil column's
    '@xsi:nil' path are emitted (issue_243)."""
    src = wrap("""
      <xs:element name="doc"><xs:complexType><xs:sequence>
        <xs:element name="r" maxOccurs="unbounded">
          <xs:complexType><xs:sequence>
            <xs:element name="v" type="xs:string" nillable="true"/>
          </xs:sequence></xs:complexType>
        </xs:element>
      </xs:sequence></xs:complexType></xs:element>
    """)
    c = compile_xsd(src)
    cols = {col.name: col for col in c.specs["r"].columns}
    assert "v__nil" in cols
    assert tuple(c.row_types["r"][0].column_paths["v__nil"]) == (
        "v", "@xsi:nil")
    req = [f for f in cols["v"].facets if isinstance(f, S.Required)]
    assert req and req[0].when and "v__nil" in req[0].when
    assert any(isinstance(f, S.Nillable) for f in cols["v"].facets)
