"""``SparkSchema`` — the user-facing facade mirroring ``xmlschema.XMLSchema``.

A user of the reference writes::

    schema = xmlschema.XMLSchema("doc.xsd")
    schema.is_valid(xml)          # bool
    schema.validate(xml)          # raises on first error
    errors = list(schema.iter_errors(xml))
    data = schema.decode(xml)

The engine's equivalent over DataFrames::

    schema = SparkSchema("spec.json")            # or SparkSchema(table_spec)
    schema.is_valid(df)                          # bool
    schema.validate(df)                          # raises SparkSchemaValidationError
    errors = schema.iter_errors(df)              # violations DataFrame
    typed, failures = schema.decode(raw_df)      # typed projection + side channel

Construction compiles the plan once (the ``schema.build()`` analogue,
xsd_globals.py:537-578); each call then only binds it to a DataFrame.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.plans.compiler import CompiledPlan, compile_plan
from sissaschool_xmlschema_spark.plans.decode import FieldDecode, decode
from sissaschool_xmlschema_spark.plans.runner import ValidationResult, validate
from sissaschool_xmlschema_spark.spec_io import load_spec


class SparkSchema:
    """Compiled validation schema bound to no particular DataFrame.

    ``source`` may be a TableSpec, a JSON spec path, **a real .xsd path or a
    literal ``<xs:schema>`` string** (the reference's own front door,
    ``XMLSchema('doc.xsd')`` — schemas.py:149): XSD sources compile through
    :mod:`~sissaschool_xmlschema_spark.xsd_compile` and additionally enable
    the raw-instance methods (:meth:`validate_xml` etc.).  ``table`` picks
    the row element when the schema defines several.
    """

    def __init__(self, source: Union[str, S.TableSpec],
                 table: Optional[str] = None, version: str = "1.0") -> None:
        self.compiled = None  # CompiledXsd when built from an XSD document
        if isinstance(source, S.TableSpec):
            self.spec: S.TableSpec = source
        elif source.lstrip().startswith("<") or str(source).endswith(".xsd"):
            from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

            self.compiled = compile_xsd(source, version=version)
            self.spec = self.compiled.spec(table)
        else:
            self.spec = load_spec(source)
        self.plan: CompiledPlan = compile_plan(self.spec)

    # --- validation (schemas.py:1214-1283 API shape) -----------------------

    def iter_errors(self, df: DataFrame) -> DataFrame:
        """All violation rows, lax accumulation (schemas.py:1285-1391)."""
        return validate(df, self.plan).violations

    def is_valid(self, df: DataFrame) -> bool:
        """True iff the full constraint suite finds nothing."""
        return validate(df, self.plan).is_valid()

    def validate(self, df: DataFrame) -> None:
        """Raise :class:`SparkSchemaValidationError` on the first violation."""
        validate(df, self.plan, mode="strict")

    def run(self, df: DataFrame) -> ValidationResult:
        """Full result object (violations + verdict/constraint rollups)."""
        return validate(df, self.plan)

    # --- decoding (documents.py:275-299 API shape) -------------------------

    def decode(
        self,
        df: DataFrame,
        fields: Optional[Sequence[FieldDecode]] = None,
        keep_columns: Sequence[str] = (),
    ) -> Tuple[DataFrame, DataFrame]:
        """Typed decode + cast-failure side channel.

        Without explicit ``fields``, nothing is cast and the call degenerates
        to a passthrough (the engine's specs constrain values, they don't
        declare physical types — tables are already typed in Spark).
        """
        if fields is None:
            return df, df.sparkSession.createDataFrame(
                [], "column string, offending_value string, n bigint"
            )
        return decode(df, fields, keep_columns)

    # --- raw XML instances (XSD-built schemas only; schemas.py:1583) --------

    def _require_xsd(self):
        if self.compiled is None:
            raise ValueError(
                "raw-instance methods need a schema built from an XSD "
                "document (SparkSchema('doc.xsd'))"
            )
        return self.compiled

    def validate_xml(self, spark, xml_path: str) -> DataFrame:
        """All violations for one raw instance document — row-level AND
        structural (char data, undeclared attributes, repeated children),
        every row element plus cross-table keyrefs."""
        from sissaschool_xmlschema_spark.sources.xml_instance import (
            validate_xml_instance,
        )

        return validate_xml_instance(spark, xml_path, self._require_xsd())

    def is_valid_xml(self, spark, xml_path: str) -> bool:
        return self.validate_xml(spark, xml_path).limit(1).count() == 0

    def decode_xml(self, spark, xml_path: str) -> dict:
        """``{row element: flat DataFrame}`` — the ``to_dict`` analogue."""
        from sissaschool_xmlschema_spark.sources.xml_instance import (
            xml_instance_tables,
        )

        return xml_instance_tables(spark, xml_path, self._require_xsd())

    # --- schema-document meta-validation (the 'is the XSD itself valid?'
    # channel; the reference reports these through the same error stream,
    # XMLSchema(..., validation='lax')) ----------------------------------

    @staticmethod
    def check_schema(source, version: str = "1.0", base_dir=None) -> tuple:
        """Schema-document errors for ``source`` — the testfiles
        ``--errors=N`` channel for INVALID XSD documents.  Returns a tuple
        of :class:`~sissaschool_xmlschema_spark.xsd_meta.SchemaError`;
        empty means the document passes every implemented check family."""
        from sissaschool_xmlschema_spark.xsd_meta import (
            validate_schema_document,
        )

        return validate_schema_document(source, version=version,
                                        base_dir=base_dir)
