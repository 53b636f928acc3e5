"""Property sweep over the XSD front door: a schema whose one column is a
builtin type restricted by one facet goes through ``compile_xsd`` ->
``compile_plan`` -> ``validate`` on a one-row DataFrame.  Whatever the
(type, facet, value) triple, nothing may raise except the compiler's own
``XsdCompileError`` (a facet the builtin cannot carry is a loud compile
error, never a Spark failure at run time)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sissaschool_xmlschema_spark.functions.lexical import XSD_LEXICAL
from sissaschool_xmlschema_spark.plans.compiler import compile_plan
from sissaschool_xmlschema_spark.plans.runner import validate
from sissaschool_xmlschema_spark.xsd_compile import XsdCompileError, compile_xsd

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

BUILTINS = sorted(XSD_LEXICAL) + [
    "string", "boolean", "hexBinary", "base64Binary", "anySimpleType",
    "normalizedString", "token",
]
BOUND = st.sampled_from(["0", "-5", "10", "2.5", "2001-01-01", "P1D", "a"])
FACETS = st.one_of(
    st.tuples(st.sampled_from(["length", "minLength", "maxLength",
                               "totalDigits", "fractionDigits"]),
              st.integers(0, 4).map(str)),
    st.tuples(st.sampled_from(["minInclusive", "minExclusive",
                               "maxInclusive", "maxExclusive"]), BOUND),
    st.tuples(st.just("pattern"),
              st.sampled_from(["[a-z]+", r"\d{1,3}", ".*", "(ab)?c"])),
    st.tuples(st.just("enumeration"), BOUND),
    st.tuples(st.just("whiteSpace"),
              st.sampled_from(["preserve", "replace", "collapse"])),
    st.tuples(st.just("explicitTimezone"),
              st.sampled_from(["optional", "required", "prohibited"])),
    st.tuples(st.just("assertion"),
              st.sampled_from(["$value != ''", "string-length($value) < 4"])),
)
VALUES = st.one_of(
    st.just(None),
    BOUND,
    st.sampled_from(["", " 7 ", "true", "AB12", "QUJD", "12:00:00Z",
                     "2001-01-01T00:00:00+01:00", "x y"]),
)


def _schema(builtin: str, facet: str, value: str) -> str:
    attr = "test" if facet == "assertion" else "value"
    return (
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        '<xs:element name="doc"><xs:complexType><xs:sequence>'
        '<xs:element name="r" maxOccurs="unbounded"><xs:complexType>'
        '<xs:sequence><xs:element name="v" minOccurs="0"><xs:simpleType>'
        f'<xs:restriction base="xs:{builtin}">'
        f'<xs:{facet} {attr}="{value}"/>'
        "</xs:restriction></xs:simpleType></xs:element></xs:sequence>"
        "</xs:complexType></xs:element>"
        "</xs:sequence></xs:complexType></xs:element></xs:schema>"
    )


@settings(**_SETTINGS)
@given(builtin=st.sampled_from(BUILTINS), facet=FACETS, value=VALUES)
def test_builtin_facet_schemas_compile_or_fail_loudly(spark, builtin,
                                                        facet, value):
    try:
        spec = compile_xsd(_schema(builtin, *facet)).spec("r")
    except XsdCompileError:
        return
    df = spark.createDataFrame(
        [("d", 0, value)], "doc_id string, row_idx int, v string"
    )
    validate(df, compile_plan(spec)).violations.count()
