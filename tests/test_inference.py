"""S6 inference-engine golden tests — the reference's hardest piece
(SURVEY §7.3), pinned to csv_detective behavior
(tests/test_analysis/test_analysis_csv.py:20-123)."""

from __future__ import annotations

import pytest

from udata_datalake_service_spark.sources.inference import (
    infer_types,
    inspect_csv,
    sniff_bytes,
)


def test_sniff_encoding_and_separator():
    enc, sep, hdr = sniff_bytes(b"a;b;c\n1;2;3\n4;5;6\n")
    assert enc == "utf-8" and sep == ";" and hdr == 0

    enc, sep, hdr = sniff_bytes("nom,prénom\nDupont,José\n".encode("utf-8"))
    assert enc == "utf-8" and sep == ","

    enc, sep, hdr = sniff_bytes("col1;café\nx;y\n".encode("latin-1"))
    assert enc == "latin-1" and sep == ";"


def test_sniff_bom():
    enc, _, _ = sniff_bytes(b"\xef\xbb\xbfa,b\n1,2\n")
    assert enc == "utf-8-sig"


def test_infer_types_seven_type_system(spark):
    rows = [
        ("1", "1.5", "true", "2022-12-31", "2022-12-31 10:00:00", '{"a":1}', "hello"),
        ("2", "2,5", "false", "2023-01-01", "2023-01-01 11:30:00", "[1,2]", "world"),
        ("2.0", "1 020,20", "oui", "31/12/2022", "2023-02-02T08:00:00", '{"b":2}', "x"),
        ("", "", "", "", "", "", ""),  # blanks must not break inference
    ]
    cols = "c_int c_float c_bool c_date c_datetime c_json c_str".split()
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
    types = infer_types(df)
    assert types == {
        "c_int": "int",
        "c_float": "float",
        "c_bool": "bool",
        "c_date": "date",
        "c_datetime": "datetime",
        "c_json": "json",
        "c_str": "string",
    }


def test_infer_all_blank_column_is_string(spark):
    df = spark.createDataFrame([("",), ("",)], "c string")
    assert infer_types(df) == {"c": "string"}


def test_inspect_csv_end_to_end(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text(
        "id;montant;valide;date_maj;commentaire\n"
        "1;1 020,20;oui;2022-12-31;premier\n"
        "2;35,5;non;2023-01-15;deuxième\n"
        "3;;;;\n",
        encoding="utf-8",
    )
    typed, insp = inspect_csv(spark, str(p))
    assert insp.separator == ";"
    assert insp.total_lines == 3
    assert insp.columns["id"]["python_type"] == "int"
    assert insp.columns["montant"]["python_type"] == "float"
    assert insp.columns["valide"]["python_type"] == "bool"
    assert insp.columns["date_maj"]["python_type"] == "date"
    assert insp.columns["commentaire"]["python_type"] == "string"

    rows = {r["id"]: r for r in typed.collect()}
    assert rows[1]["montant"] == 1020.2  # French number format golden
    assert rows[1]["valide"] is True and rows[2]["valide"] is False
    assert rows[3]["montant"] is None
    # synthetic __id column injected (analysis/csv.py:228)
    assert "__id" in typed.columns


def test_inspect_csv_gz(spark, tmp_path):
    # S2: .csv.gz — sniff inflates the sample; Spark's reader inflates the
    # file itself by extension (format matrix, test_analysis_other_formats.py)
    import gzip

    p = tmp_path / "data.csv.gz"
    p.write_bytes(
        gzip.compress("id;montant\n1;1 020,20\n2;35,5\n".encode("utf-8"))
    )
    typed, insp = inspect_csv(spark, str(p))
    assert insp.separator == ";"
    assert insp.columns["montant"]["python_type"] == "float"
    got = {r["id"]: r["montant"] for r in typed.collect()}
    assert got == {1: 1020.2, 2: 35.5}


def test_reserved_column_renamed(spark, tmp_path):
    # reference renames Postgres system column names (analysis/csv.py:356-360)
    p = tmp_path / "res.csv"
    p.write_text("xmin,normal\n1,2\n3,4\n", encoding="utf-8")
    typed, insp = inspect_csv(spark, str(p))
    assert "xmin__hydra_renamed" in typed.columns
    assert "normal" in typed.columns


def test_header_offset_rows(spark, tmp_path):
    p = tmp_path / "junk.csv"
    p.write_text(
        "exported by tool v3\n\nname,amount\nalice,10\nbob,20\n", encoding="utf-8"
    )
    typed, insp = inspect_csv(spark, str(p))
    assert insp.header_row_idx == 2
    assert set(["name", "amount"]) <= set(c.replace("__hydra_renamed", "") for c in typed.columns)
    got = {r["name"]: r["amount"] for r in typed.collect()}
    assert got == {"alice": 10, "bob": 20}


def test_gz_behind_lying_extension(spark, tmp_path):
    """A gzip payload served under a .csv name must still inflate: Spark
    keys the codec on the extension, so the inspector aliases the file
    with a .gz symlink before the scan."""
    import gzip

    from udata_datalake_service_spark.sources.inference import inspect_csv

    p = tmp_path / "lying.csv"
    p.write_bytes(gzip.compress("a;b\n1;x\n2;y\n".encode()))
    typed, insp = inspect_csv(spark, str(p))
    assert insp.columns["a"]["python_type"] == "int"
    assert sorted(r["a"] for r in typed.collect()) == [1, 2]


def test_schema_drift_names_added_removed_retyped():
    from udata_datalake_service_spark.sources.inference import Inspection, schema_drift

    old = Inspection(
        header=["id", "price", "gone"],
        columns={
            "id": {"python_type": "int", "score": 1.0},
            "price": {"python_type": "float", "score": 1.0},
            "gone": {"python_type": "string", "score": 1.0},
        },
    )
    new = Inspection(
        header=["id", "price", "fresh"],
        columns={
            "id": {"python_type": "int", "score": 1.0},
            "price": {"python_type": "string", "score": 0.9},  # retyped
            "fresh": {"python_type": "bool", "score": 1.0},
        },
    )
    drift = schema_drift(old, new)
    assert drift == [
        {"column": "fresh", "change": "added", "old_type": None, "new_type": "bool"},
        {"column": "gone", "change": "removed", "old_type": "string", "new_type": None},
        {"column": "price", "change": "retyped", "old_type": "float", "new_type": "string"},
    ]
    assert schema_drift(old, old) == []
    # dict form (the registry stores to_dict payloads) works identically
    assert schema_drift(old.to_dict(), new.to_dict()) == drift


def test_inspect_latin1_and_bom_files_end_to_end(spark, tmp_path):
    """r8 fuzz find: Spark 4 REJECTS the sniffer's Python codec names —
    every latin-1 or BOM'd CSV crashed inspect_csv at read time with
    INVALID_PARAMETER_VALUE.CHARSET. French open data is full of both;
    the reference handles them via csv_detective, so must we."""
    p1 = tmp_path / "latin.csv"
    p1.write_bytes("nom;ville\ncafé;Besançon\nnoël;Orléans\n".encode("latin-1"))
    typed, insp = inspect_csv(spark, str(p1))
    assert insp.encoding == "latin-1" and insp.separator == ";"
    assert sorted(r["nom"] for r in typed.collect()) == ["café", "noël"]

    p2 = tmp_path / "bom.csv"
    p2.write_bytes(b"\xef\xbb\xbfid;v\n7;x\n")
    typed, insp = inspect_csv(spark, str(p2))
    assert insp.encoding == "utf-8-sig"
    # Spark strips the BOM under UTF-8: clean header, typed value
    assert typed.columns[:2] == ["id", "v"]
    assert typed.collect()[0]["id"] == 7


def test_inspect_hostile_inputs_never_crash_untyped(spark, tmp_path):
    """r8 fuzz pins, one case per former escape: (a) a dotted header must
    not be parsed as struct access (UNRESOLVED_COLUMN), (b) binary bytes
    that trip the C csv reader, (c) a header-only file whose vote
    aggregates over zero rows (NULL sums), (d) plain random bytes."""
    # (a) dots/backticks in headers
    p = tmp_path / "dots.csv"
    p.write_text("a.b;x`y;plain\n1;2;3\n")
    typed, insp = inspect_csv(spark, str(p))
    assert typed.count() == 1
    # (b) embedded NUL + newline chaos
    p = tmp_path / "nul.csv"
    p.write_bytes(b"a;b\x00\rc\n\x00\xff\xfe;;\n\r\x00")
    inspect_csv(spark, str(p))
    # (c) header-only
    p = tmp_path / "hdr.csv"
    p.write_text("alpha;beta\n")
    typed, insp = inspect_csv(spark, str(p))
    assert insp.columns["alpha"]["python_type"] == "string"
    # (d) random-ish garbage
    p = tmp_path / "garbage.csv"
    p.write_bytes(bytes(range(256)) * 3)
    inspect_csv(spark, str(p))


_DIALECTS = {
    "semicolon.csv": "id;montant\n1;1 020,20\n2;35,5\n3;\n".encode(),
    "comma.csv": b"a,b\n1,x\n2,y\n",
    "tab.csv": b"a\tb\n1\tx\n2\ty\n4\tz\n",
    "pipe.csv": b"a|b\n1|x\n",
    "latin1.csv": "nom;ville\ncafé;Besançon\nnoël;Orléans\n".encode("latin-1"),
    "bom.csv": b"\xef\xbb\xbfid;v\n7;x\n8;y\n",
    "quoted_multiline.csv": b'id,note\n1,"two\nlines"\n2,plain\n',
    "header_offset.csv": b"exported by tool v3\n\nname,amount\nalice,10\nbob,20\n",
    "header_only.csv": b"alpha;beta\n",
}


@pytest.mark.parametrize("name", sorted(_DIALECTS) + ["gzipped.csv.gz"])
def test_total_lines_is_the_row_count(spark, tmp_path, name):
    """``total_lines`` comes from the vote aggregate, not a second scan;
    it must equal the all-strings frame's own count on every dialect."""
    import gzip

    from udata_datalake_service_spark.sources.csv_reader import read_csv_with_dialect

    p = tmp_path / name
    if name.endswith(".gz"):
        p.write_bytes(gzip.compress(_DIALECTS["semicolon.csv"]))
    else:
        p.write_bytes(_DIALECTS[name])
    _, insp = inspect_csv(spark, str(p))
    raw = read_csv_with_dialect(
        spark,
        str(p),
        separator=insp.separator,
        encoding=insp.encoding,
        header_row_idx=insp.header_row_idx,
        all_strings=True,
    )
    assert insp.total_lines == raw.count()
    if name == "header_offset.csv":
        assert insp.header_row_idx == 2 and insp.total_lines == 2
    if name == "header_only.csv":
        assert insp.total_lines == 0
