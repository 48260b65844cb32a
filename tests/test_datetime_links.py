"""Date/path scalar functions (F11-F14) and link harvesting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tika_addons_spark.functions import datetime_path as dp


@pytest.fixture(scope="module")
def messy(spark):
    return spark.createDataFrame(
        [
            (1, "clean value", "a/b/c.txt"),
            (2, "tab\there\nand newline\rret\x00nul", "archive.tar.gz"),
            (3, "x" * 20_000, "noext"),
        ],
        "id long, val string, path string",
    )


def test_date_parse_fallback(spark):
    df = spark.createDataFrame(
        [("2024-03-01 10:00:00",), ("not a date",)], "s string"
    )
    out = df.select(
        dp.parse_ts_with_fallback(
            F.col("s"), "yyyy-MM-dd HH:mm:ss",
            fallback=F.to_timestamp(F.lit("1970-01-01 00:00:00")),
        ).alias("ts")
    ).collect()
    assert out[0].ts.year == 2024
    assert out[1].ts.year == 1970  # fallback, not a failure


def test_datetime_regex_harvest(spark):
    html = '<relative-time datetime="2020-05-06T07:08:09Z">x</relative-time>'
    bz = "stuff Reported: 2011-01-02 03:04 UTC by someone"
    df = spark.createDataFrame([(html, bz)], "a string, b string")
    r = df.select(
        dp.extract_datetime_attr(F.col("a")).alias("dt"),
        dp.extract_reported_date(F.col("b")).alias("rep"),
    ).collect()[0]
    assert r.dt == "2020-05-06T07:08:09Z"
    assert r.rep.startswith("2011-01-02")


def test_file_extension_and_paths(spark, messy):
    out = messy.select(
        "id",
        dp.file_extension(F.col("path")).alias("ext"),
        dp.root_dir(F.col("path")).alias("root"),
        dp.rest_path("path").alias("rest"),
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].ext == "txt" and rows[1].root == "a" and rows[1].rest == "b/c.txt"
    assert rows[2].ext == "tgz"  # .tar.gz special case
    assert rows[3].ext == "" and rows[3].root == "" and rows[3].rest == ""


def test_strip_json_suffix(spark):
    df = spark.createDataFrame([("doc.pdf.json",), ("doc.pdf",)], "s string")
    got = [r[0] for r in df.select(dp.strip_json_suffix(F.col("s"))).collect()]
    assert got == ["doc.pdf", "doc.pdf"]


def test_link_harvest_deny_and_classify(spark):
    from tika_addons_spark.functions import links

    html = (
        '<p><a href="/files/123">att</a>'
        '<a class="z" href="/files/123">dup att</a>'
        '<a href="https://example.com/x">ext</a>'
        '<a href="https://travis-ci.org/b/1">denied host</a>'
        '<a href="https://github.com/o/r/pull/9">denied pull</a>'
        '<a href="https://github.com/o/r/tree/main">denied tree</a>'
        '<a href="https://github.com/o/r/issues/4">kept gh</a>'
        '<a href="/relative/page">kept rel</a></p>'
    )
    df = spark.createDataFrame([(html,)], "t string")
    hrefs = links.harvest_hrefs(F.col("t"))
    kept = links.filter_denied(hrefs)
    row = df.select(
        hrefs.alias("raw"),
        kept.alias("kept"),
        links.attachment_links(kept).alias("att"),
        links.external_links(kept).alias("ext"),
    ).collect()[0]
    assert row.raw[0] == "/files/123" and len(row.raw) == 7  # dedup
    assert set(row.kept) == {
        "/files/123",
        "https://example.com/x",
        "https://github.com/o/r/issues/4",
        "/relative/page",
    }
    assert row.att == ["/files/123"]
    assert set(row.ext) == {"https://example.com/x", "https://github.com/o/r/issues/4"}


def test_link_harvest_github_attr_rule(spark):
    """GithubScraper.java:188-198 — github.com hrefs whose <a> tag carries
    non-blank attrs before or after the href are navigation, not content;
    non-github hrefs keep their attrs."""
    from tika_addons_spark.functions import links

    html = (
        '<a class="nav" href="https://github.com/o/r/issues/5">pre attr</a>'
        '<a href="https://github.com/o/r/issues/6" rel="x">post attr</a>'
        '<a href="https://github.com/o/r/issues/7">bare kept</a>'
        '<a class="z" href="https://example.com/x">non-gh attr kept</a>'
        '<a href="https://github.com/o/r/tree/main">tree denied</a>'
    )
    df = spark.createDataFrame([(html,)], "t string")
    row = df.select(links.harvest_kept_hrefs(F.col("t")).alias("kept")).collect()[0]
    assert set(row.kept) == {
        "https://github.com/o/r/issues/7",
        "https://example.com/x",
    }


def test_extension_allowlist_predicate(spark):
    df = spark.createDataFrame(
        [("a/b.PDF",), ("c/d.tar.gz",), ("e/f.exe",), ("noext",)], "p string"
    )
    got = [
        r[0]
        for r in df.select(dp.extension_allowed(F.col("p"), {"pdf", "tgz"})).collect()
    ]
    assert got == [True, True, False, False]
