"""Typed decode (schema.decode analogue) and multimodal binary plumbing."""

from pyspark.sql import functions as F

from sissaschool_xmlschema_spark.operators import multimodal
from sissaschool_xmlschema_spark.plans.decode import (
    FieldDecode,
    decode,
)


def test_decode_with_failure_side_channel(spark):
    df = spark.createDataFrame(
        [("1", "2024-01-01 00:00:00"), ("oops", "2024-01-02 00:00:00"),
         ("3", "not-a-date"), (None, "not-a-date")],
        "x string, d string",
    )
    typed, failures = decode(
        df,
        fields=(
            FieldDecode("x", "int"),
            FieldDecode("d", "timestamp", fmt="yyyy-MM-dd HH:mm:ss"),
        ),
    )
    vals = [r["x"] for r in typed.orderBy("d").collect()]
    assert vals.count(None) == 2  # 'oops' and the source NULL
    f = {(r["column"], r["offending_value"]): r["n"] for r in failures.collect()}
    assert f[("x", "oops")] == 1
    assert f[("d", "not-a-date")] == 2  # multiplicity aggregated
    assert ("x", None) not in f  # source nulls are not decode failures


def test_decode_default_value(spark):
    df = spark.createDataFrame([("bad",), ("7",)], "x string")
    typed, failures = decode(df, fields=(FieldDecode("x", "int", default=0),))
    assert sorted(r["x"] for r in typed.collect()) == [0, 7]
    # failures still reported even when a default fills the hole
    assert failures.count() == 1


def test_union_decode_first_member_wins(spark):
    """xs:union typed decode (simple_types.py:1177-1210): ordered cascade —
    a value decodes into the FIRST member's value space that accepts it."""
    from sissaschool_xmlschema_spark.plans.decode import union_decode

    df = spark.createDataFrame(
        [("42",), ("2024-03-01",), ("neither",), (None,)], "u string"
    )
    typed, failures = union_decode(df, "u", ("int", "date"))
    rows = {
        (r["u"]["member"]): (r["u"]["as_int"], r["u"]["as_date"])
        for r in typed.collect()
    }
    import datetime as dt

    assert rows["int"] == (42, None)
    assert rows["date"] == (None, dt.date(2024, 3, 1))
    assert rows[None] == (None, None)  # no member matched / input null
    f = {(r["offending_value"]): r["n"] for r in failures.collect()}
    assert f == {"neither": 1}  # source NULL is not a decode failure


def test_union_decode_order_matters(spark):
    """'7' is valid for both int and string members — the first declared
    member wins, exactly the reference's ordered cascade."""
    from sissaschool_xmlschema_spark.plans.decode import union_decode

    df = spark.createDataFrame([("7",)], "u string")
    typed, _ = union_decode(df, "u", ("int", "string"))
    r = typed.first()["u"]
    assert r["member"] == "int" and r["as_int"] == 7 and r["as_string"] is None
    typed2, _ = union_decode(df, "u", ("string", "int"))
    r2 = typed2.first()["u"]
    assert r2["member"] == "string" and r2["as_string"] == "7"


def test_multimodal_feature_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "different")],
        "doc_id int, text string",
    )
    media = multimodal.synthetic_media(spark, docs)
    feats = multimodal.extract_features(media).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id["m-1"]["feature"]) == multimodal.FEATURE_DIM
    # deterministic: identical payload → identical features
    assert by_id["m-1"]["feature"] == by_id["m-2"]["feature"]
    assert by_id["m-1"]["feature"] != by_id["m-3"]["feature"]
    assert by_id["m-1"]["n_bytes"] == len(b"hello world")
    assert all(0.0 <= v <= 1.0 for v in by_id["m-1"]["feature"])


def test_decode_filler_and_value_hook(spark):
    """Decode-side hooks (DecodeContext options, validation.py:95-104):
    `fill` substitutes a placeholder for FAILED decodes while the failure
    channel still records them; `transform` (value_hook) rewrites the
    decoded value in the same projection."""
    from sissaschool_xmlschema_spark.plans.decode import FieldDecode, decode

    df = spark.createDataFrame(
        [("1.5",), ("oops",), (None,)], "v string"
    )
    typed, failures = decode(
        df,
        [FieldDecode("v", "double", fill=-1.0, transform="v * 10")],
    )
    vals = sorted((r.v for r in typed.collect()), key=lambda x: (x is None, x))
    assert vals == [-10.0, 15.0, None]  # fill*10, 1.5*10, absent stays null
    f = failures.collect()
    assert [(r.column, r.offending_value, r.n) for r in f] == [("v", "oops", 1)]


def test_decode_element_hook(spark):
    """element_hook: whole-row transform over the typed frame (the decoded-
    element hook analogue) — runs inside the same plan."""
    from pyspark.sql import functions as F

    from sissaschool_xmlschema_spark.plans.decode import FieldDecode, decode

    df = spark.createDataFrame([("2", "3")], "a string, b string")
    typed, _ = decode(
        df,
        [FieldDecode("a", "int"), FieldDecode("b", "int")],
        element_hook=lambda d: d.withColumn("a_plus_b", F.col("a") + F.col("b")),
    )
    row = typed.first()
    assert (row.a, row.b, row.a_plus_b) == (2, 3, 5)
