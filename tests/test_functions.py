"""Golden tests for the scalar surface — values pinned to the reference's
test suite (tests/test_analysis/test_analysis_csv.py:89-168 and
crawl/helpers.py semantics)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from udata_datalake_service_spark.functions.casting import (
    normalize_number,
    smart_cast,
    str2bool_col,
)
from udata_datalake_service_spark.functions.dates import (
    parse_date_multi,
    parse_datetime_multi,
)
from udata_datalake_service_spark.functions.hashing import hash64, md5_table_name
from udata_datalake_service_spark.functions.http import (
    header,
    is_valid_status,
    lower_keys,
    split_content_type,
)
from udata_datalake_service_spark.functions.urls import domain_of


def _vals(spark, values, expr):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(expr(F.col("v"))).collect()]


# ---------------------------------------------------------------- casting --
def test_smart_cast_int_accepts_float_strings(spark):
    # reference: "2.0" → 2 (test_analysis_csv.py:97); the int fallback is
    # int(str2float(v)) which TRUNCATES "3.5" → 3 (analysis/csv.py:210-213),
    # and its `if _value:` guard maps float-zero "0.0" → NULL (quirk)
    out = _vals(
        spark, ["2", "2.0", "x", "", "3.5", "0.0"], lambda c: smart_cast("int", c)
    )
    assert out == [2, 2, None, None, 3, None]


def test_smart_cast_float_french_format(spark):
    # reference str2float: "1 020,20" → 1020.2 (analysis/csv.py:41-50)
    out = _vals(
        spark,
        ["1 020,20", "1020.2", "1,5", "abc", ""],
        lambda c: smart_cast("float", c),
    )
    assert out == [1020.2, 1020.2, 1.5, None, None]


def test_smart_cast_bool(spark):
    out = _vals(
        spark,
        ["true", "False", "oui", "non", "1", "0", "maybe", ""],
        lambda c: str2bool_col(c),
    )
    assert out == [True, False, True, False, True, False, None, None]


def test_smart_cast_empty_is_null_for_every_type(spark):
    for t in ("string", "int", "float", "bool", "date", "datetime", "json"):
        out = _vals(spark, ["", "   "], lambda c, t=t: smart_cast(t, c))
        assert out == [None, None], t


def test_normalize_number_mixed_separators(spark):
    out = _vals(spark, ["1,234.56", "1 234,56"], lambda c: normalize_number(c))
    assert out == ["1234.56", "1234.56"]


# ------------------------------------------------------------------ dates --
def test_date_parse_machine_formats(spark):
    out = _vals(
        spark,
        ["2022-12-31", "31/12/2022", "20221231"],
        lambda c: parse_date_multi(c),
    )
    assert out == [dt.date(2022, 12, 31)] * 3


def test_verbal_rlike_agrees_with_verbal_parser(spark):
    # the vote-time JVM regex must say yes wherever the casting-time UDF
    # parses (drift allowed only on calendar-invalid days like 30 février)
    from udata_datalake_service_spark.functions.dates import (
        _parse_verbal_one,
        verbal_date_rlike,
    )

    cases = [
        "31 décembre 2022", "31st december 2022", "le 1er janvier 2023",
        "December 31, 2022", "aout 15 1999", "3 mar 2001", "not a date",
        "2024-01-15", "15/01/2024", "", "32 janvier 2022", "janvier 2022",
        "31 de diciembre de 2022", "el 1º de enero de 2023", "MÄRZ 3, 2001",
        "31. Dezember 2022", "3. Oktober 1990", "15 de agosto del 1999",
        "31 de 2022", "Jänner 2023",
    ]
    got = _vals(spark, cases, verbal_date_rlike)
    for s, rlike_yes in zip(cases, got):
        assert rlike_yes == (_parse_verbal_one(s) is not None), s


def test_date_parse_verbal_french_and_english(spark):
    # reference golden: "31 décembre 2022", "31st december 2022"
    # (test_analysis_csv.py:126-168 via dateparser)
    out = _vals(
        spark,
        ["31 décembre 2022", "31st december 2022", "le 1er janvier 2023",
         "December 31, 2022", "not a date"],
        lambda c: parse_date_multi(c),
    )
    assert out == [
        dt.date(2022, 12, 31),
        dt.date(2022, 12, 31),
        dt.date(2023, 1, 1),
        dt.date(2022, 12, 31),
        None,
    ]


def test_date_parse_verbal_spanish_and_german(spark):
    # the reference reaches these via dateparser's es/de locale tables
    # (analysis/helpers.py:13-27); we mirror with explicit month tables
    out = _vals(
        spark,
        ["31 de diciembre de 2022", "el 1º de enero de 2023",
         "15 de agosto del 1999", "31. Dezember 2022", "3. Oktober 1990",
         "1 Jänner 2023", "märz 3, 2001", "31 de 2022"],
        lambda c: parse_date_multi(c),
    )
    assert out == [
        dt.date(2022, 12, 31),
        dt.date(2023, 1, 1),
        dt.date(1999, 8, 15),
        dt.date(2022, 12, 31),
        dt.date(1990, 10, 3),
        dt.date(2023, 1, 1),
        dt.date(2001, 3, 3),
        None,
    ]


def test_datetime_parse_iso(spark):
    out = _vals(
        spark,
        ["2022-12-31T23:59:58", "2022-12-31 23:59:58", "31/12/2022 23:59:58"],
        lambda c: parse_datetime_multi(c),
    )
    assert out == [dt.datetime(2022, 12, 31, 23, 59, 58)] * 3


# ------------------------------------------------------------------- http --
def test_is_valid_status_tristate(spark):
    df = spark.createDataFrame(
        [(200,), (302,), (404,), (429,), (500,), (None,)], "v int"
    )
    out = [r[0] for r in df.select(is_valid_status(F.col("v"))).collect()]
    # 429 → NULL is the reference's deliberate tri-state (crawl/helpers.py:56-63)
    assert out == [True, True, False, None, False, None]


def test_split_content_type(spark):
    out = _vals(
        spark,
        ["text/csv; charset=utf-8", "application/json", " text/html ;x=1"],
        lambda c: split_content_type(c),
    )
    assert out == ["text/csv", "application/json", "text/html"]


def test_header_map_access_lower_keys(spark):
    df = spark.createDataFrame(
        [({"Content-Type": "text/csv", "X-Foo": "1"},)], "h map<string,string>"
    )
    low = df.select(lower_keys(F.col("h")).alias("h"))
    assert low.select(header(F.col("h"), "Content-Type")).collect()[0][0] == "text/csv"


# ------------------------------------------------------------------- urls --
def test_domain_of_matches_parse_url(spark):
    urls = [
        "https://www.data.gouv.fr/fr/datasets/x?y=1",
        "http://static.data.gouv.fr/a/b.csv",
        "https://a.org/f.csv#frag",
        "http://user:pw@Example.com/x",   # userinfo skipped, not returned
        "not a url at all",               # no authority -> NULL both ways
    ]
    got = _vals(spark, urls, domain_of)
    # try_: under ANSI mode plain parse_url RAISES on malformed input
    native = _vals(spark, urls, lambda c: F.try_parse_url(c, F.lit("HOST")))
    assert got == native == [
        "www.data.gouv.fr", "static.data.gouv.fr", "a.org",
        "Example.com", None,
    ]


# ---------------------------------------------------------------- hashing --
def test_md5_table_name_matches_python_hashlib(spark):
    import hashlib

    url = "https://a.org/f.csv"
    out = _vals(spark, [url], lambda c: md5_table_name(c))
    assert out == [hashlib.md5(url.encode()).hexdigest()]


def test_hash64_deterministic_and_spread(spark):
    df = spark.createDataFrame([(f"k{i}",) for i in range(100)], "v string")
    a = [r[0] for r in df.select(hash64(F.col("v"))).collect()]
    b = [r[0] for r in df.select(hash64(F.col("v"))).collect()]
    assert a == b
    assert len(set(a)) == 100
    assert all(isinstance(x, int) and x >= 0 for x in a)


def test_fix_surrogates(spark):
    from udata_datalake_service_spark.functions.http import fix_surrogates

    bad = "TREMI_2017-R\udce9sultats"
    df = spark.createDataFrame([(bad,), ("clean.csv",), (None,)], "v string")
    out = [r["f"] for r in df.select(fix_surrogates(F.col("v")).alias("f")).collect()]
    assert out[0] == "TREMI_2017-R�sultats"
    assert out[1] == "clean.csv" and out[2] is None


def test_excel_reader_xls_dispatch_and_bad_ext(tmp_path):
    import pytest as _pytest

    from udata_datalake_service_spark.sources.excel_reader import iter_excel_rows

    # .xls routes to the stdlib BIFF parser (xlrd absent here), which
    # rejects non-OLE2 payloads loudly instead of gating on the library
    bogus = tmp_path / "x.xls"
    bogus.write_bytes(b"definitely not ole2")
    with _pytest.raises(ValueError, match="OLE2"):
        list(iter_excel_rows(str(bogus)))
    with _pytest.raises(ValueError, match="not an excel"):
        list(iter_excel_rows("x.parquet"))


def test_sniff_tabular_matrix(spark):
    from udata_datalake_service_spark.functions.http import sniff_tabular

    cases = [
        ("text/csv; charset=utf-8", "https://a.org/f.csv", True, "csv"),
        ("application/octet-stream", "https://a.org/f.csv.gz", True, "csvgz"),
        ("application/octet-stream", "https://a.org/f.bin", False, "csv"),
        ("application/vnd.ms-excel", "https://a.org/f.xls", True, "xls"),
        (
            "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
            "https://a.org/f.xlsx", True, "xlsx",
        ),
        ("application/json", "https://a.org/f.json", False, "csv"),
        (None, "https://a.org/x", False, "csv"),
    ]
    df = spark.createDataFrame(
        [(ct, u) for ct, u, *_ in cases], "ct string, url string"
    )
    out = df.select(sniff_tabular(F.col("ct"), F.col("url")).alias("s")).collect()
    got = [(r["s"]["is_tabular"], r["s"]["format"]) for r in out]
    assert got == [(t, f) for *_, t, f in cases]


def test_every_pattern_sample_survives_huge_digit_guard(spark):
    """The huge-digit guard's exemptions are derived from the current
    pattern tuples; a new pattern with a 5+ digit run (yyyyMMddHHmmss,
    epoch seconds…) would silently NULL valid inputs. Every pattern must
    have a sample here that parses non-null through the guarded chain."""
    from udata_datalake_service_spark.functions.dates import (
        _DATE_PATTERNS,
        _DATETIME_PATTERNS,
    )

    samples = {
        "yyyy-MM-dd": "2024-01-15",
        "yyyy/MM/dd": "2024/01/15",
        "dd/MM/yyyy": "15/01/2024",
        "dd-MM-yyyy": "15-01-2024",
        "dd.MM.yyyy": "15.01.2024",
        "yyyyMMdd": "20240115",
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX": "2024-01-15T10:30:00.123456+02:00",
        "yyyy-MM-dd'T'HH:mm:ssXXX": "2024-01-15T10:30:00+02:00",
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS": "2024-01-15T10:30:00.123456",
        "yyyy-MM-dd'T'HH:mm:ss": "2024-01-15T10:30:00",
        "yyyy-MM-dd HH:mm:ss.SSSSSS": "2024-01-15 10:30:00.123456",
        "yyyy-MM-dd HH:mm:ss": "2024-01-15 10:30:00",
        "dd/MM/yyyy HH:mm:ss": "15/01/2024 10:30:00",
        "dd/MM/yyyy HH:mm": "15/01/2024 10:30",
    }
    assert set(samples) == set(_DATE_PATTERNS) | set(_DATETIME_PATTERNS), (
        "pattern added/removed without a guard-sync sample — check the "
        "huge-digit guard exemptions in parse_datetime_multi first"
    )
    out = _vals(
        spark,
        list(samples.values()),
        lambda c: parse_datetime_multi(c, verbal_fallback=False),
    )
    for (pat, s), v in zip(samples.items(), out):
        assert v is not None, f"{pat}: sample {s!r} nulled by the guard"


def test_canonicalize_url_golden_matrix(spark):
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.functions.urls import canonicalize_url

    cases = {
        # case, default port, tracking, fragment — the full gauntlet
        "HTTP://Example.COM:80/Path/To?b=2&utm_source=x&a=1#frag":
            "http://example.com/Path/To?b=2&a=1",
        # bare root slash collapses; non-default port survives
        "https://example.com:443/": "https://example.com",
        "https://example.com:8443/": "https://example.com:8443",
        # ADJACENT tracking params must all drop (the per-key-pass trap)
        "https://h.io/p?utm_a=1&utm_b=2&x=1": "https://h.io/p?x=1",
        "https://h.io/p?x=1&utm_a=1&utm_b=2": "https://h.io/p?x=1",
        "https://h.io/p?utm_a=1&utm_b=2": "https://h.io/p",
        # run in the middle hands its separator to the kept param
        "https://h.io/p?utm_a=1&x=1&ref=home&gclid=g": "https://h.io/p?x=1",
        # 'ref' key never matches inside 'preference'
        "https://h.io/p?preference=2": "https://h.io/p?preference=2",
        # path case preserved; trailing slash on a real path preserved
        "https://Example.com/CamelPath/": "https://example.com/CamelPath/",
        # scheme-less / non-hierarchical inputs pass through untouched
        "example.com/path?utm_source=x": "example.com/path?utm_source=x",
        "mailto:someone@example.com": "mailto:someone@example.com",
        # userinfo dropped, host still lowercased
        "http://user:pw@Example.COM/x": "http://example.com/x",
    }
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {
        r["u"]: r["c"]
        for r in df.select("u", canonicalize_url(F.col("u")).alias("c")).collect()
    }
    assert got == cases


def test_url_quality_filter_verdicts(spark):
    """RefinedWeb-style URL gate: each hand-built URL exercises one
    rejection reason; the clean one survives."""
    from udata_datalake_service_spark.functions.urls import url_quality_filter

    rows = [
        (1, "https://good.example.org/docs/page"),          # keep
        (2, "https://spam.example.net/x"),                  # blocklist
        (3, "http://10.0.0.1/x"),                           # raw IP host
        (4, "https://dl.example.org/a.ZIP?m=1"),            # bad ext (case-insensitive)
        (5, "https://d.example.org/" + "9" * 40),           # digit ratio
        (6, "https://long.example.org/" + "a" * 200),       # length
        (7, "not a url"),                                   # no host
        (8, "https://u:p@h.example.org:8443/a/b/c?x=1&y=2"),  # port+params, kept
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {
        r["id"]: r
        for r in url_quality_filter(
            df,
            blocked_domains=("spam.example.net",),
            max_len=120,
            max_digit_ratio=0.3,
        ).collect()
    }
    assert out[1]["url_keep"] and not out[1]["url_blocked"]
    assert out[2]["url_blocked"] and not out[2]["url_keep"]
    assert out[3]["is_ip_host"] and not out[3]["url_keep"]
    assert out[4]["bad_ext"] and not out[4]["url_keep"]
    assert not out[5]["url_keep"] and out[5]["digit_ratio"] > 0.3
    assert not out[6]["url_keep"] and out[6]["url_len"] > 120
    assert out[7]["host"] is None and not out[7]["url_keep"]
    assert out[8]["url_keep"] and out[8]["has_port"] and out[8]["n_params"] == 2
    assert out[8]["host"] == "h.example.org"
    assert out[8]["path_depth"] == 3
