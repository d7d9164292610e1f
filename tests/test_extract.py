"""Coordinate extraction: determinism (BASELINE.json per-row invariant:
byte-identical extracted text per url) and exact agreement with the
DuckDB oracles' parse."""

import math

import duckdb
import pytest

from insideout_spark.geo import extract
from insideout_spark.sources.pages import extract_points


def _pages(spark, texts):
    return spark.createDataFrame(
        [(f"u{i:03d}", t) for i, t in enumerate(texts)], "url string, text string"
    )


def _points(spark, texts):
    """{url: (lat, lng)} of extract_points over `texts` (url u000...)."""
    return {r["url"]: (r["lat"], r["lng"]) for r in extract_points(_pages(spark, texts)).collect()}


def test_extract_basic(spark):
    pts = _points(spark, ["page 3 geo:47.1234567,-2.0000001", "no token here", "geo:1.5,2.5 x"])
    assert pts["u000"] == (47.1234567, -2.0000001)
    assert "u001" not in pts
    assert pts["u002"] == (1.5, 2.5)


def test_extract_deterministic_repeat(spark):
    texts = [f"page {i} geo:{40+i*0.001:.7f},{i*0.002:.7f}" for i in range(500)]
    a = _points(spark, texts)
    b = _points(spark, texts)
    assert len(a) == 500 and a == b


# Adversarial geo tokens. The long mantissas are past 17 significant
# digits, where a parse that is not correctly rounded (pandas'
# to_numeric) gives 0.1234567890123456 and 1.0000000000000001e+23.
ADVERSARIAL_TEXTS = [
    "a geo:1.5,2.5 b geo:3.5,4.5",  # two tokens: the first wins
    "geo:+47.5,-2.25",
    "geo:-0.0,+0",
    "geo:-0.0000000,-12",
    "geo:47.,2.5",
    "geo:1e5,2",
    "GEO:47.5,2.5",
    "geo:47.5, 2.5",
    "geo:\u0664\u0667.5,2.5",  # Arabic-Indic digits
    "geo:\uff14\uff17.5,2.5",  # fullwidth digits
    "",
    None,
    "geo:0.1234567890123456789,0.3",
    "geo:99999999999999999999999.1234567890123456789,-1.5",
    "x geo:47.1234567,-2.0000001 y",
]


# the oracles' pattern, written out (as in perfbench/check.py) rather
# than imported from the code under test
ORACLE_GEO_RE = r"geo:([-+]?\d+(?:\.\d+)?),([-+]?\d+(?:\.\d+)?)"


def _oracle_points(texts):
    """The DuckDB oracles' extraction (regexp_extract + CAST AS DOUBLE
    over the rows regexp_matches keeps) on the same texts."""
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE pages (url VARCHAR, text VARCHAR)")
        con.executemany(
            "INSERT INTO pages VALUES (?, ?)", [(f"u{i:03d}", t) for i, t in enumerate(texts)]
        )
        rows = con.execute(
            f"""SELECT url,
                       CAST(regexp_extract(text, '{ORACLE_GEO_RE}', 1) AS DOUBLE),
                       CAST(regexp_extract(text, '{ORACLE_GEO_RE}', 2) AS DOUBLE)
                FROM pages WHERE regexp_matches(text, '{ORACLE_GEO_RE}')"""
        ).fetchall()
    finally:
        con.close()
    return {url: (lat, lng) for url, lat, lng in rows}


def _signed(pts):
    # -0.0 == 0.0, so compare the signs too
    return {u: tuple((v, math.copysign(1.0, v)) for v in ll) for u, ll in pts.items()}


def test_extract_points_matches_duckdb_oracle(spark):
    got = _points(spark, ADVERSARIAL_TEXTS)
    want = _oracle_points(ADVERSARIAL_TEXTS)
    assert _signed(got) == _signed(want)
    # the cases the list is there for, spelled out
    assert got["u000"] == (1.5, 2.5)
    assert math.copysign(1.0, got["u002"][0]) == -1.0
    assert got["u012"] == (0.12345678901234568, 0.3)
    assert got["u013"] == (1e23, -1.5)
    assert sorted(got) == ["u000", "u001", "u002", "u003", "u012", "u013", "u014"]


def test_html_text_roundtrip_byte_identical():
    text = "page 7 geo:47.1000000,2.2000000 é-ü"
    html = f"<html><body>{text}</body></html>".encode()
    assert extract.extract_text_from_html(html) == text
    assert extract.extract_text_from_html(html).encode() == text.encode()


def test_pages_synth_deterministic(spark):
    """Same ids -> byte-identical text regardless of partitioning."""
    from insideout_spark.sources.pages import synth_pages

    a = {r["url"]: r["text"] for r in synth_pages(spark, 100, partitions=2).collect()}
    b = {r["url"]: r["text"] for r in synth_pages(spark, 100, partitions=7).collect()}
    assert a == b
    # golden rows present
    assert a["https://example.org/00000001"].endswith("geo:47.3965063,-2.9876391")


@pytest.mark.parametrize("escaped", ["true", "false"])
def test_extract_points_regex_under_escaped_string_literals(spark, escaped):
    """GEO_RE reaches the regex engine intact whether or not the SQL
    parser unescapes string literals: both settings return the DuckDB
    oracle's rows."""
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        got = _points(spark, ADVERSARIAL_TEXTS)
    finally:
        spark.conf.set(key, before)
    assert _signed(got) == _signed(_oracle_points(ADVERSARIAL_TEXTS))
    assert len(got) == 7
