"""The shared declared-encoding reader (xml_text.py) behind the schema
compiler, the schema-document validator and the instance sniffers."""

from sissaschool_xmlschema_spark.sources.xml_instance import (
    _sniff_root_local,
    sniff_nsmap,
    sniff_prefix,
)
from sissaschool_xmlschema_spark.xml_text import declared_encoding, read_xml_text
from sissaschool_xmlschema_spark.xsd_compile import compile_xsd
from sissaschool_xmlschema_spark.xsd_meta import validate_schema_document

CP1252_XSD = """<?xml version="1.0" encoding="windows-1252"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="doc"><xs:complexType><xs:sequence>
    <xs:element name="row" maxOccurs="unbounded"><xs:complexType>
      <xs:sequence><xs:element name="dish">
        <xs:simpleType><xs:restriction base="xs:string">
          <xs:enumeration value="menù"/><xs:enumeration value="café"/>
        </xs:restriction></xs:simpleType>
      </xs:element></xs:sequence>
    </xs:complexType></xs:element>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>
"""


def test_unknown_declared_codec_falls_back_to_utf8(tmp_path):
    p = tmp_path / "bogus.xml"
    p.write_bytes(
        '<?xml version="1.0" encoding="bogus-enc"?>'
        '<vh:cars xmlns:vh="urn:v"><vh:car>è</vh:car></vh:cars>'
        .encode("utf-8")
    )
    assert declared_encoding(p) == "utf-8"
    assert sniff_prefix(str(p), "car") == "vh:"
    assert sniff_nsmap(str(p)) == {"vh": "urn:v"}
    assert _sniff_root_local(str(p)) == "cars"
    assert "è" in read_xml_text(p)


def test_cp1252_schema_reads_in_compiler_and_validator(tmp_path):
    p = tmp_path / "menu.xsd"
    p.write_bytes(CP1252_XSD.encode("cp1252"))
    assert declared_encoding(p) == "windows-1252"
    assert validate_schema_document(str(p)) == ()
    dish = next(
        c for c in compile_xsd(str(p)).spec("row").columns
        if c.name == "dish"
    )
    assert any("menù" in getattr(f, "values", ()) for f in dish.facets)


def test_encoding_attribute_outside_the_prolog_is_not_a_declaration(tmp_path):
    p = tmp_path / "noprolog.xml"
    p.write_bytes(
        '<root dataEncoding="base64"><item>ü</item></root>'.encode("utf-8")
    )
    assert declared_encoding(p) == "utf-8"
    assert _sniff_root_local(str(p)) == "root"
    assert sniff_prefix(str(p), "item") == ""
    # BOM + whitespace before the declaration still count as the prolog
    q = tmp_path / "bom.xml"
    q.write_bytes(
        b'\xef\xbb\xbf <?xml version="1.0" encoding=\'ISO-8859-1\'?><r/>'
    )
    assert declared_encoding(q) == "ISO-8859-1"
