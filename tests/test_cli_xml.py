"""CLI front-door commands — the ``xmlschema-validate`` /
``xmlschema-xml2json`` console-script analogues (reference
xmlschema/cli.py:71-279, console scripts pyproject.toml).

``main(argv)`` is exercised in-process (cli._session getOrCreate reuses
the test SparkSession); exit status = total error count, like the
reference CLI's ``sys.exit(tot_errors)``."""

import json

from sissaschool_xmlschema_spark.cli import main

VB = "/root/reference/tests/test_cases/examples/vehicles"


def test_validate_xml_exit_status_is_error_count(spark, capsys):
    rc = main([
        "validate-xml", "--schema", f"{VB}/vehicles.xsd",
        f"{VB}/vehicles.xml", f"{VB}/vehicles-2_errors.xml",
    ])
    assert rc == 2  # 0 from the valid file + 2 from the invalid one
    out, err = capsys.readouterr()
    assert "vehicles.xml is valid" in out
    assert "vehicles-2_errors.xml is not valid" in err


def test_validate_xml_verbose_lists_violations(spark, capsys):
    rc = main([
        "validate-xml", "-v", "--schema", f"{VB}/vehicles.xsd",
        f"{VB}/vehicles-2_errors.xml",
    ])
    assert rc == 2
    _out, err = capsys.readouterr()
    assert "structure:char-data" in err


def test_xml2jsonl_writes_typed_tables(spark, tmp_path, capsys):
    rc = main([
        "xml2jsonl", "--schema", f"{VB}/vehicles.xsd",
        "-o", str(tmp_path), f"{VB}/vehicles.xml",
    ])
    assert rc == 0
    rows = []
    for p in (tmp_path / "vehicles" / "car").glob("part-*.json"):
        rows += [json.loads(ln) for ln in p.read_text().splitlines()]
    assert len(rows) == 2
    assert all(r["make"] == "Porsche" for r in rows)
    assert (tmp_path / "vehicles" / "bike").exists()


def test_xml2jsonl_error_count_in_exit_status(spark, tmp_path, capsys):
    rc = main([
        "xml2jsonl", "--schema", f"{VB}/vehicles.xsd",
        "-o", str(tmp_path), f"{VB}/vehicles-2_errors.xml",
    ])
    assert rc == 2
    out, _err = capsys.readouterr()
    assert "with 2 errors" in out


def test_json2xml_roundtrip(spark, tmp_path, capsys):
    """xml2jsonl -> json2xml: the re-encoded document re-validates clean
    and decodes to the same typed rows as the source (the reference
    CLI trio's round-trip property)."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        xml_instance_tables,
    )

    jdir, xdir = tmp_path / "j", tmp_path / "x"
    assert main([
        "xml2jsonl", "--schema", f"{VB}/vehicles.xsd",
        "-o", str(jdir), f"{VB}/vehicles.xml",
    ]) == 0
    assert main([
        "json2xml", "--schema", f"{VB}/vehicles.xsd",
        "--input", str(jdir), "-o", str(xdir),
    ]) == 0  # zero validation errors on the re-encoded document
    doc = (xdir / "vehicles.xml").read_text()
    assert doc.index("<cars>") < doc.index("<bikes>")  # schema model order
    tables = xml_instance_tables(
        spark, str(xdir / "vehicles.xml"), f"{VB}/vehicles.xsd"
    )
    cars = sorted(
        (r["make"], r["model"]) for r in tables["car"].collect()
    )
    assert cars == [("Porsche", "911"), ("Porsche", "911")]
    bikes = sorted(
        (r["make"], r["model"]) for r in tables["bike"].collect()
    )
    assert bikes == [("Harley-Davidson", "WL"), ("Yamaha", "XS650")]


def test_json2xml_without_inferable_root_fails_clearly(spark, tmp_path, capsys):
    """Two candidate root elements and no --root: a non-zero exit with a
    message, and no rootless document written."""
    xsd = tmp_path / "two_roots.xsd"
    xsd.write_text(
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        '<xs:element name="doc"><xs:complexType><xs:sequence>'
        '<xs:element name="row" maxOccurs="unbounded"><xs:complexType>'
        '<xs:sequence><xs:element name="v" type="xs:int"/></xs:sequence>'
        "</xs:complexType></xs:element>"
        "</xs:sequence></xs:complexType></xs:element>"
        '<xs:element name="a" type="xs:string"/>'
        '<xs:element name="b" type="xs:string"/>'
        "</xs:schema>"
    )
    (tmp_path / "j" / "doc").mkdir(parents=True)
    out = tmp_path / "x"
    rc = main([
        "json2xml", "--schema", str(xsd),
        "--input", str(tmp_path / "j"), "-o", str(out),
    ])
    assert rc != 0
    _out, err = capsys.readouterr()
    assert "--root" in err and "a, b" in err
    assert not out.exists()
